package graft.sinks

import org.apache.hadoop.conf.Configuration

import graft.core.Geometry.Shape3
import graft.core.{Json, Voxels}
import graft.core.Json._

/** Zarr v2 store writer — the reference's legacy output path (W1,
  * `imaris_to_zarr_writer`, `compress/imaris_to_zarr.py:807-990`): 3-D
  * (Z,Y,X) uint16 LE arrays per pyramid level, one file per chunk
  * (`z.y.x` keys, "." separator), Blosc-compressed chunks
  * (default cname=zstd, clevel=3, byte shuffle — `:877-882`), group
  * metadata in `.zgroup` / `.zattrs`, per-level `.zarray`.
  *
  * Chunks are always FULL chunk-shape, fill-padded at the array edge
  * (zarr v2 semantics). A conversion task covers a shard-aligned region
  * and writes every chunk file inside it — same one-writer-per-key
  * coordination-free invariant as the v3 shard path (W4/X3), just with
  * finer-grained output files.
  */
object ZarrV2 {

  val Fill: Short = 0

  /** `.zarray` document for one level (numcodecs-style blosc config). */
  def arrayMetadata(
      shape: Seq[Long],
      chunks: Seq[Long],
      cname: String = "zstd",
      clevel: Int = 3,
      shuffle: Int = Blosc.SHUFFLE,
      separator: String = "."): JValue =
    obj(
      "zarr_format" -> num(2),
      "shape" -> arr(shape.map(num): _*),
      "chunks" -> arr(chunks.map(num): _*),
      "dtype" -> str("<u2"),
      "compressor" -> obj(
        "id" -> str("blosc"),
        "cname" -> str(cname),
        "clevel" -> num(clevel),
        "shuffle" -> num(shuffle),
        "blocksize" -> num(0)
      ),
      "fill_value" -> num(0),
      "order" -> str("C"),
      "filters" -> Json.JNull,
      "dimension_separator" -> str(separator)
    )

  /** `.zgroup` document. */
  def groupMetadata: JValue = obj("zarr_format" -> num(2))

  /** Chunk key within a level dir ("." = flat v2 default, "/" = nested). */
  def chunkKey(gz: Long, gy: Long, gx: Long, separator: String = "."): String =
    Seq(gz, gy, gx).mkString(separator)

  /** Write every chunk file of a shard-aligned region. `regionData` holds
    * the region voxels in C order (possibly in an oversized reused
    * buffer); `origin` is the region's global voxel origin (a multiple of
    * `chunk` by construction — shard % chunk == 0); chunks are clipped
    * to the region. Returns bytes written.
    */
  def writeRegionChunks(
      fsConf: Configuration,
      levelDir: String,
      regionData: Array[Short],
      dataShape: Shape3,
      origin: Shape3,
      chunk: Shape3,
      cname: String = "zstd",
      clevel: Int = 3,
      shuffle: Int = Blosc.SHUFFLE,
      separator: String = "."): Long =
    writeBoxChunks(fsConf, levelDir, regionData, dataShape, origin, origin,
      Shape3(origin.z + dataShape.z, origin.y + dataShape.y, origin.x + dataShape.x),
      chunk, cname, clevel, shuffle, separator)

  /** [[writeRegionChunks]] for the chunks of the box [`lo`, `hi`) of the
    * region only: `lo` is chunk-aligned, and chunks are clipped to `hi`,
    * which is a chunk multiple or the array edge. Returns bytes written.
    */
  def writeBoxChunks(
      fsConf: Configuration,
      levelDir: String,
      regionData: Array[Short],
      dataShape: Shape3,
      origin: Shape3,
      lo: Shape3,
      hi: Shape3,
      chunk: Shape3,
      cname: String,
      clevel: Int,
      shuffle: Int,
      separator: String): Long = {
    require(separator == "." || separator == "/",
      s"dimension_separator must be '.' or '/', got: $separator")
    require(regionData.length >= dataShape.voxels,
      s"region payload ${regionData.length} < ${dataShape.voxels}")
    require(lo.z % chunk.z == 0 && lo.y % chunk.y == 0 && lo.x % chunk.x == 0,
      s"region origin $lo not chunk-aligned to $chunk")
    val chunkVox = chunk.voxels.toInt
    val staged = new Array[Short](chunkVox)
    val raw = new Array[Byte](chunkVox * 2)
    var written = 0L
    Voxels.forEachTile(lo, hi, chunk, hi) { t =>
      // chunks are always stored full-size, fill-padded at the region edge
      if (t.extent != chunk) java.util.Arrays.fill(staged, Fill)
      Voxels.copyBox(regionData, dataShape, origin, staged, chunk, t.origin, t.lo, t.extent)
      Voxels.toLE(staged, chunkVox, raw)
      val comp = Blosc.compress(raw, typesize = 2, cname = cname,
        clevel = clevel, shuffle = shuffle)
      // "/" yields zarr-python's nested store layout (subdirectories);
      // the FS create makes parents, so both layouts share this path
      ZarrV3.write(fsConf, s"$levelDir/${chunkKey(t.gz, t.gy, t.gx, separator)}", comp)
      written += comp.length
    }
    written
  }

  /** Read an arbitrary voxel region back from a v2 level directory (the
    * compute-pyramid source path, the v2→v3 migration, and the
    * round-trip tests). `separator` supports foreign stores written with
    * `dimension_separator: "/"` (zarr-python's nested store layout).
    */
  def readRegion(
      conf: Configuration,
      levelDir: String,
      shape: Shape3,
      chunk: Shape3,
      z0: Long, z1: Long, y0: Long, y1: Long, x0: Long, x1: Long,
      separator: String = ".",
      allowMissing: Boolean = false): Array[Short] =
    readRegionInto(conf, levelDir, shape, chunk, z0, z1, y0, y1, x0, x1,
      new Array[Short](((z1 - z0) * (y1 - y0) * (x1 - x0)).toInt), separator,
      allowMissing)

  /** [[readRegion]] into a caller-owned (possibly oversized, REUSED)
    * buffer. Returns `out`.
    *
    * `allowMissing` scopes the zarr v2 absent-chunk-is-fill_value
    * semantics to callers reading FOREIGN stores (zarr-python's
    * `write_empty_chunks=False` omits all-fill chunks — the ZarrMigrate
    * path). Our own writer always writes every chunk, so on internal
    * reads (the compute-pyramid source) a missing chunk is a lost write
    * or a path bug and must stay a loud FileNotFoundException — silently
    * zero-filling there would corrupt downsampled levels.
    */
  def readRegionInto(
      conf: Configuration,
      levelDir: String,
      shape: Shape3,
      chunk: Shape3,
      z0: Long, z1: Long, y0: Long, y1: Long, x0: Long, x1: Long,
      out: Array[Short],
      separator: String = ".",
      allowMissing: Boolean = false): Array[Short] = {
    val region = Shape3(z1 - z0, y1 - y0, x1 - x0)
    require(out.length >= region.voxels, s"region buffer ${out.length} < ${region.voxels}")
    // `out` may be a reused buffer: a missing chunk's hole must be written
    if (allowMissing) java.util.Arrays.fill(out, 0, region.voxels.toInt, Fill)
    val lo = Shape3(z0, y0, x0)
    val chunkVox = chunk.voxels.toInt
    val decoded = new Array[Short](chunkVox)
    Voxels.forEachTile(lo, Shape3(z1, y1, x1), chunk, shape) { t =>
      val key = chunkKey(t.gz, t.gy, t.gx, separator)
      val raw =
        try Blosc.decompress(ZarrV3.read(conf, s"$levelDir/$key"))
        catch {
          case _: java.io.FileNotFoundException if allowMissing => null
        }
      if (raw != null) {
        require(raw.length == chunkVox * 2, s"chunk $key: ${raw.length} bytes, want ${chunkVox * 2}")
        Voxels.fromLE(raw, 0, decoded, chunkVox)
        Voxels.copyBox(decoded, chunk, t.origin, out, region, lo, t.lo, t.extent)
      }
    }
    out
  }
}
