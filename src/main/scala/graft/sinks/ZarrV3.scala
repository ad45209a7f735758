package graft.sinks

import java.nio.{ByteBuffer, ByteOrder}
import java.util.concurrent.{ExecutionException, ExecutorService, Executors, Future, FutureTask}
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.CRC32C

import com.github.luben.zstd.Zstd
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.core.Geometry.Shape3
import graft.core.{Geometry, Json, Voxels}
import graft.core.Json._

/** Zarr v3 sharded-store writer (reference W2: `create_scale_spec`,
  * `compress/imaris_to_zarr.py:141-269`).
  *
  * Byte-level format of one shard file (`sharding_indexed`,
  * index_location=end, index_codecs=[bytes LE, crc32c]):
  * {{{
  *   [chunk 0 bytes][chunk 1 bytes]...[index][crc32c(index) LE u32]
  *   index = per inner chunk, C-order over the shard's chunk grid:
  *           u64 LE offset, u64 LE nbytes;  missing chunk = (-1, -1)
  * }}}
  * Inner chunks are encoded with [transpose C (identity on our C-order
  * buffers), zstd(level)], always full chunk_shape (fill-padded at edges).
  *
  * One shard file is written whole by exactly one task — the reference's
  * coordination-free invariant (W4/X3, `imaris_to_zarr.py:1280-1283`)
  * which maps 1:1 onto Spark's one-output-file-per-task model.
  */
object ZarrV3 {

  /** uint16 fill value used for padding partial edge chunks. */
  val Fill: Short = 0

  private val Origin = Shape3(0, 0, 0)

  // ---- shard encoding -----------------------------------------------------

  /** Encode one complete shard.
    *
    * @param shardData voxels of the shard region in C order (Z,Y,X),
    *                  sized exactly `dataShape.voxels`
    * @param dataShape the ACTUAL (possibly clipped at array edge) extent
    *                  of the data in this shard
    * @param shardShape the full logical shard shape (>= dataShape)
    * @param chunkShape inner chunk shape (divides shardShape)
    * @param level compression level
    * @param codec "zstd" (default, reference chain) or "gzip" (the other
    *              registered Zarr v3 compressor; stdlib-decodable, used
    *              by the external-interop cross-check)
    */
  def encodeShard(
      shardData: Array[Short],
      dataShape: Shape3,
      shardShape: Shape3,
      chunkShape: Shape3,
      level: Int = 3,
      codec: String = "zstd"): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(1 << 20)
    encodeShardTo(bos, shardData, dataShape, shardShape, chunkShape, level, codec, threads = 1)
    bos.toByteArray
  }

  /** Stream a shard directly to `path` (raw FS). Peak memory is one chunk
    * per encode thread (staging + compressed), not the whole shard — a
    * task encoding a 512³ shard holds ~35 MB instead of ~500 MB, which
    * keeps wide executors (8–32 concurrent tasks) off the GC cliff and
    * writes the file in chunk-sized increments instead of one giant
    * buffer.
    *
    * `threads` > 1 encodes up to that many inner chunks at once on a
    * JVM-wide daemon pool (capped at `availableProcessors` and at the
    * shard's chunk count), for a task that runs while slots sit idle; the
    * calling thread still writes chunks and index entries in C order, so
    * the file is byte-identical to `threads = 1`. An encode failure is
    * rethrown as the encoder threw it. Returns bytes written.
    */
  def writeShard(
      fsConf: Configuration,
      pathStr: String,
      shardData: Array[Short],
      dataShape: Shape3,
      shardShape: Shape3,
      chunkShape: Shape3,
      level: Int = 3,
      codec: String = "zstd",
      threads: Int = 1): Long = {
    val p = new Path(pathStr)
    val fs = rawFs(p, fsConf)
    val out = fs.create(p, true)
    try encodeShardTo(out, shardData, dataShape, shardShape, chunkShape, level, codec, threads)
    finally out.close()
  }

  /** Encode pool shared by every [[writeShard]] call in the JVM: daemon
    * threads, so an idle pool never holds the JVM open.
    */
  private lazy val encodePool: ExecutorService = {
    val n = new AtomicInteger(0)
    Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors, { (r: Runnable) =>
      val t = new Thread(r, s"zarr-encode-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  /** Core streaming encoder shared by [[encodeShard]] and [[writeShard]]:
    * a window of up to `threads` chunks is in flight; each is fill-padded,
    * staged, converted to LE and compressed (on [[encodePool]], or inline
    * on the calling thread when the window is 1), and the calling thread
    * writes them as they complete, in C order. The (offset,nbytes) index
    * + CRC32C trailer follows (index_location=end). Returns total bytes
    * written.
    */
  private def encodeShardTo(
      out: java.io.OutputStream,
      shardData: Array[Short],
      dataShape: Shape3,
      shardShape: Shape3,
      chunkShape: Shape3,
      level: Int,
      codec: String,
      threads: Int): Long = {
    // >= not ==: callers may pass a REUSED oversized region buffer (the
    // per-partition scratch in ImarisToZarr waves)
    require(shardData.length >= dataShape.voxels,
      s"shard payload ${shardData.length} < ${dataShape.voxels}")
    val grid = chunkGrid(shardShape, chunkShape)
    val nChunks = grid.voxels.toInt
    val chunkVox = chunkShape.voxels.toInt
    val index = ByteBuffer.allocate(nChunks * 16 + 4).order(ByteOrder.LITTLE_ENDIAN)
    // every entry starts as missing (-1, -1): chunks wholly outside the
    // data are elided
    java.util.Arrays.fill(index.array(), 0, nChunks * 16, 0xff.toByte)
    val stored = Geometry.ceilDiv(dataShape.z, chunkShape.z) *
      Geometry.ceilDiv(dataShape.y, chunkShape.y) * Geometry.ceilDiv(dataShape.x, chunkShape.x)
    val window = math.max(1L, math.min(threads.toLong,
      math.min(Runtime.getRuntime.availableProcessors.toLong, stored))).toInt
    // one staging chunk per window slot, EXACTLY the chunk's size (the
    // compressor reads the whole staging array): chunk i reuses slot
    // i % window only after chunk i - window was written
    val chunks = Array.fill(window)(new Array[Short](chunkVox))
    val raws = Array.fill(window)(new Array[Byte](chunkVox * 2))
    val inFlight = new java.util.ArrayDeque[(Int, Future[Array[Byte]])](window)
    var off = 0L
    def writeOldest(): Unit = {
      val (ci, job) = inFlight.poll()
      val comp =
        try job.get()
        catch { case e: ExecutionException => throw e.getCause }
      out.write(comp)
      index.putLong(ci * 16, off).putLong(ci * 16 + 8, comp.length.toLong)
      off += comp.length
    }
    var i = 0
    try {
      // data beyond the shard is not stored
      Voxels.forEachTile(Origin, dataShape, chunkShape, shardShape) { t =>
        if (inFlight.size == window) writeOldest()
        val chunk = chunks(i % window)
        val raw = raws(i % window)
        val job = new FutureTask[Array[Byte]](() => {
          // chunks are always stored full-size, fill-padded at the data edge
          if (t.extent != chunkShape) java.util.Arrays.fill(chunk, Fill)
          Voxels.copyBox(shardData, dataShape, Origin, chunk, chunkShape, t.origin, t.lo, t.extent)
          Voxels.toLE(chunk, chunkVox, raw)
          compress(raw, level, codec)
        })
        if (window == 1) job.run() else encodePool.execute(job)
        inFlight.add((((t.gz * grid.y + t.gy) * grid.x + t.gx).toInt, job))
        i += 1
      }
      while (!inFlight.isEmpty) writeOldest()
    } finally {
      // a failed chunk, a failed write or an interrupt (a killed task):
      // drop every chunk still queued or encoding
      inFlight.forEach(_._2.cancel(true))
    }
    val crc = new CRC32C()
    crc.update(index.array(), 0, nChunks * 16)
    index.putInt(nChunks * 16, crc.getValue.toInt)
    out.write(index.array())
    off + nChunks * 16 + 4
  }

  /** The shard's inner-chunk grid. */
  private def chunkGrid(shardShape: Shape3, chunkShape: Shape3): Shape3 = {
    require(shardShape.z % chunkShape.z == 0 && shardShape.y % chunkShape.y == 0
      && shardShape.x % chunkShape.x == 0, s"shard $shardShape not a multiple of chunk $chunkShape")
    Shape3(shardShape.z / chunkShape.z, shardShape.y / chunkShape.y, shardShape.x / chunkShape.x)
  }

  /** Decode one shard file back to (Z,Y,X) voxels of `dataShape` — the
    * round-trip reader used by tests and the translate path's cross-check.
    */
  def decodeShard(
      bytes: Array[Byte],
      dataShape: Shape3,
      shardShape: Shape3,
      chunkShape: Shape3): Array[Short] =
    decodeShardInto(bytes, dataShape, shardShape, chunkShape,
      new Array[Short](dataShape.voxels.toInt))

  /** [[decodeShard]] into a caller-owned (possibly oversized, REUSED)
    * buffer: every voxel of the dataShape extent is written (elided
    * chunks as Fill), so stale bytes from a previous shard never leak.
    * Returns `out`.
    */
  def decodeShardInto(
      bytes: Array[Byte],
      dataShape: Shape3,
      shardShape: Shape3,
      chunkShape: Shape3,
      out: Array[Short]): Array[Short] =
    decodeShardInto(bytes, dataShape, shardShape, chunkShape, out, "shard")

  /** [[decodeShardInto]] naming the shard (its path) in errors; see
    * [[openShard]] for the checks.
    */
  def decodeShardInto(
      bytes: Array[Byte],
      dataShape: Shape3,
      shardShape: Shape3,
      chunkShape: Shape3,
      out: Array[Short],
      name: String): Array[Short] = {
    require(out.length >= dataShape.voxels,
      s"decode buffer ${out.length} < ${dataShape.voxels}")
    openShard(bytes, shardShape, chunkShape, name)
      .copyBoxInto(Origin, Origin, dataShape, out, dataShape, Origin)
    out
  }

  /** Parse and check a shard file's index. Nothing is decoded yet: a file
    * shorter than its index, a CRC32C mismatch or an entry outside the
    * payload is an `IllegalArgumentException` naming `name` (the shard
    * path).
    */
  def openShard(bytes: Array[Byte], shardShape: Shape3, chunkShape: Shape3, name: String): Shard = {
    val grid = chunkGrid(shardShape, chunkShape)
    val indexLen = grid.voxels.toInt * 16
    val idxStart = bytes.length - indexLen - 4
    require(idxStart >= 0,
      s"$name: ${bytes.length} bytes, shorter than its ${indexLen + 4}-byte index")
    val shard = new Shard(bytes, grid, chunkShape, idxStart)
    val crc = new CRC32C()
    crc.update(bytes, idxStart, indexLen)
    require(crc.getValue.toInt == shard.whole.getInt(idxStart + indexLen),
      s"$name: shard index CRC32C mismatch")
    var ci = 0
    while (ci < grid.voxels) {
      val off = shard.offset(ci); val len = shard.nbytes(ci)
      require(off == -1L || (off >= 0 && len >= 0 && len <= idxStart - off),
        s"$name: index entry $ci ($off, $len) lies outside the payload [0, $idxStart)")
      ci += 1
    }
    shard
  }

  /** A shard file whose index [[openShard]] has checked. Inner chunks are
    * decoded one at a time through one reused byte buffer, so peak state
    * is the file plus one chunk.
    */
  final class Shard private[ZarrV3] (
      bytes: Array[Byte], grid: Shape3, chunkShape: Shape3, idxStart: Int) {
    // NOTE: ByteBuffer.wrap(a, off, len) still indexes absolute gets from
    // a[0]; keep one whole-array buffer and offset explicitly.
    private[ZarrV3] val whole = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    private val chunkVox = chunkShape.voxels.toInt
    private val raw = new Array[Byte](chunkVox * 2)

    private[ZarrV3] def offset(ci: Int): Long = whole.getLong(idxStart + ci * 16)
    private[ZarrV3] def nbytes(ci: Int): Long = whole.getLong(idxStart + ci * 16 + 8)

    /** Decode inner chunk (`gz`, `gy`, `gx`) of the shard's own chunk
      * grid into the first `chunkShape.voxels` elements of `out` (C order,
      * full chunk shape); an elided chunk reads as Fill.
      */
    def decodeChunkInto(gz: Long, gy: Long, gx: Long, out: Array[Short]): Unit = {
      require(out.length >= chunkVox, s"chunk buffer ${out.length} < $chunkVox")
      val ci = ((gz * grid.y + gy) * grid.x + gx).toInt
      val off = offset(ci)
      if (off == -1L) java.util.Arrays.fill(out, 0, chunkVox, Fill)
      else {
        decompressInto(bytes, off.toInt, nbytes(ci).toInt, raw)
        Voxels.fromLE(raw, 0, out, chunkVox)
      }
    }

    /** Decode only the inner chunks overlapping the box [`lo`, `hi`) and
      * copy that box into `out` (shape `outShape`, origin `outOrigin`).
      * Coordinates are global: the shard starts at `origin`, and the box
      * lies inside its data.
      */
    def copyBoxInto(origin: Shape3, lo: Shape3, hi: Shape3,
                    out: Array[Short], outShape: Shape3, outOrigin: Shape3): Unit = {
      val chunk = new Array[Short](chunkVox)
      Voxels.forEachTile(lo, hi, chunkShape, hi) { t =>
        decodeChunkInto(t.gz - origin.z / chunkShape.z, t.gy - origin.y / chunkShape.y,
          t.gx - origin.x / chunkShape.x, chunk)
        Voxels.copyBox(chunk, chunkShape, t.origin, out, outShape, outOrigin, t.lo, t.extent)
      }
    }
  }

  // ---- codecs -------------------------------------------------------------

  private def compress(raw: Array[Byte], level: Int, codec: String): Array[Byte] = codec match {
    case "zstd" => Zstd.compress(raw, level)
    // blosc(zstd + byte shuffle): a REGISTERED zarr v3 codec, and on
    // uint16 voxel data the shuffle roughly HALVES the chunk bytes vs
    // plain zstd (measured 2.3 GB -> 1.2 GB on the 2.45 GB conversion
    // fixture) — at 100 TB that's the difference in stored bytes and
    // in write/read bandwidth
    case "blosc" => Blosc.compress(raw, typesize = 2, cname = "zstd",
      clevel = math.min(9, level), shuffle = Blosc.SHUFFLE)
    case "gzip" =>
      val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
      val gz = new java.util.zip.GZIPOutputStream(bos) { `def`.setLevel(level) }
      gz.write(raw); gz.close()
      bos.toByteArray
    case other => sys.error(s"unsupported zarr codec: $other (zstd|blosc|gzip)")
  }

  /** Chunk decode into a caller-provided buffer (filled exactly), codec
    * detected by magic (blosc version bytes 02 01 / zstd 28 B5 2F FD /
    * gzip 1F 8B) so read paths need no codec plumbing.
    */
  private def decompressInto(src: Array[Byte], srcOff: Int, srcLen: Int, out: Array[Byte]): Unit =
    if (srcLen >= 2 && (src(srcOff) & 0xff) == 0x02 && (src(srcOff + 1) & 0xff) == 0x01) {
      val d = Blosc.decompress(java.util.Arrays.copyOfRange(src, srcOff, srcOff + srcLen))
      require(d.length == out.length, s"blosc chunk expanded to ${d.length}, want ${out.length}")
      System.arraycopy(d, 0, out, 0, d.length)
    } else if (srcLen >= 2 && (src(srcOff) & 0xff) == 0x1f && (src(srcOff + 1) & 0xff) == 0x8b) {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(src, srcOff, srcLen))
      try {
        var off = 0
        var n = 0
        while (off < out.length && n >= 0) { n = in.read(out, off, out.length - off); if (n > 0) off += n }
        require(off == out.length, s"gzip chunk expanded to $off, want ${out.length}")
      } finally in.close()
    } else {
      val n = Zstd.decompressByteArray(out, 0, out.length, src, srcOff, srcLen)
      require(n == out.length, s"zstd chunk expanded to $n, want ${out.length}")
    }

  // ---- metadata -----------------------------------------------------------

  /** Array-level zarr.json for one pyramid level (5-D T,C,Z,Y,X with
    * T=C=1), mirroring the reference codec chain exactly
    * (`imaris_to_zarr.py:223-242`).
    */
  def arrayMetadata(
      shape5: Seq[Long],
      shard5: Seq[Long],
      chunk5: Seq[Long],
      zstdLevel: Int = 3,
      codecName: String = "zstd"): JValue =
    obj(
      "zarr_format" -> num(3),
      "node_type" -> str("array"),
      "shape" -> arr(shape5.map(num): _*),
      "data_type" -> str("uint16"),
      "chunk_grid" -> obj(
        "name" -> str("regular"),
        "configuration" -> obj("chunk_shape" -> arr(shard5.map(num): _*))
      ),
      "chunk_key_encoding" -> obj(
        "name" -> str("default"),
        "configuration" -> obj("separator" -> str("/"))
      ),
      "fill_value" -> num(0),
      "codecs" -> arr(
        obj(
          "name" -> str("sharding_indexed"),
          "configuration" -> obj(
            "chunk_shape" -> arr(chunk5.map(num): _*),
            "codecs" -> arr(
              obj("name" -> str("transpose"),
                "configuration" -> obj("order" -> arr((0 until 5).map(i => num(i)): _*))),
              obj("name" -> str("bytes"),
                "configuration" -> obj("endian" -> str("little"))),
              if (codecName == "gzip")
                obj("name" -> str("gzip"),
                  "configuration" -> obj("level" -> num(zstdLevel)))
              else if (codecName == "blosc")
                // registered zarr v3 blosc codec (zarr-specs codecs/blosc);
                // shuffle is spelled as a string in v3 configs
                obj("name" -> str("blosc"),
                  "configuration" -> obj(
                    "cname" -> str("zstd"),
                    "clevel" -> num(math.min(9, zstdLevel)),
                    "shuffle" -> str("shuffle"),
                    "typesize" -> num(2),
                    "blocksize" -> num(0)))
              else
                obj("name" -> str("zstd"),
                  "configuration" -> obj("level" -> num(zstdLevel), "checksum" -> bool(false)))
            ),
            "index_codecs" -> arr(
              obj("name" -> str("bytes"),
                "configuration" -> obj("endian" -> str("little"))),
              obj("name" -> str("crc32c"))
            ),
            "index_location" -> str("end")
          )
        )
      )
    )

  // ---- filesystem ---------------------------------------------------------

  /** Shard key within a level dir: `c/<t>/<c>/<z>/<y>/<x>` (default
    * chunk_key_encoding, "/" separator).
    */
  def shardKey(sz: Long, sy: Long, sx: Long): String = s"c/0/0/$sz/$sy/$sx"

  /** File system for shard I/O. On local disks Hadoop's default
    * `LocalFileSystem` is a ChecksumFileSystem: every write is split into
    * 512-byte CRC chunks (FSOutputSummer), turning one 250 MB shard write
    * into ~500k tiny write() syscalls — catastrophic under syscall-taxed
    * sandboxes (measured 100x slowdown) and pure overhead anywhere, since
    * Zarr v3 shards already carry a CRC32C index. Use the RAW local FS:
    * one large write() per shard. Non-local filesystems (s3a, hdfs) pass
    * through unchanged.
    */
  def rawFs(p: Path, conf: Configuration): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(conf) match {
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRawFileSystem
      case other => other
    }

  def write(fsConf: Configuration, pathStr: String, bytes: Array[Byte]): Unit =
    write(fsConf, pathStr, bytes, bytes.length)

  /** Write the first `len` bytes of a (possibly oversized, reused) buffer. */
  def write(fsConf: Configuration, pathStr: String, bytes: Array[Byte], len: Int): Unit = {
    val p = new Path(pathStr)
    val fs = rawFs(p, fsConf)
    val out = fs.create(p, true)
    try out.write(bytes, 0, len)
    finally out.close()
  }

  def writeString(fsConf: Configuration, pathStr: String, s: String): Unit =
    write(fsConf, pathStr, s.getBytes("UTF-8"))

  def read(fsConf: Configuration, pathStr: String): Array[Byte] = {
    val p = new Path(pathStr)
    val fs = rawFs(p, fsConf)
    val st = fs.getFileStatus(p)
    require(st.getLen <= Int.MaxValue, s"$pathStr: ${st.getLen} bytes (> 2 GiB) — not readable into one buffer")
    val buf = new Array[Byte](st.getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf)
    finally in.close()
    buf
  }
}
