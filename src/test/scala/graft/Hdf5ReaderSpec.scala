package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Geometry.Shape3
import graft.sources.{Hdf5Reader, Imaris}

/** Voxel-exact reads of the synthetic .ims fixtures (FIXTURES.md §1),
  * which were written by an INDEPENDENT pure-python HDF5 writer
  * (tools/gen_fixtures.py) — reader and writer cross-validate.
  */
object Fixtures {
  val dir = "src/test/resources/fixtures"

  /** FIXTURES.md voxel content contract. */
  def v(z: Long, y: Long, x: Long, level: Long = 0): Short =
    (((z * 73856093L) ^ (y * 19349663L) ^ (x * 83492791L) ^ (level * 2654435761L)) % 65536L).toShort
}

class Hdf5ReaderSpec extends AnyFunSuite {
  import Fixtures._

  private def checkRegion(r: Hdf5Reader, level: Int,
                          z0: Long, z1: Long, y0: Long, y1: Long, x0: Long, x1: Long,
                          trueShape: Shape3): Unit = {
    val ds = r.openDataset(Imaris.dataPath(level))
    val data = r.readRegion(ds, z0, z1, y0, y1, x0, x1)
    val ny = y1 - y0; val nx = x1 - x0
    for (z <- z0 until z1; y <- y0 until y1; x <- x0 until x1) {
      val got = data((((z - z0) * ny + (y - y0)) * nx + (x - x0)).toInt)
      val want =
        if (z < trueShape.z && y < trueShape.y && x < trueShape.x) v(z, y, x, level)
        else 0.toShort // padding voxels are fill
      assert(got == want, s"voxel ($z,$y,$x) level $level: got $got want $want")
    }
  }

  test("ims_64: attributes decode (byte-string quirk) and metadata") {
    val m = Imaris.readMeta(s"$dir/ims_64.ims")
    assert(m.trueShape0.shape == Shape3(64, 64, 64))
    assert(m.storedShapes == Seq(Shape3(64, 64, 64)))
    assert(m.chunk == Shape3(16, 32, 32))
    assert(m.numLevels == 1)
    assert(m.voxelSizeUm == ((1.0, 1.0, 1.0)))
    assert(m.originUm == ((0.0, 0.0, 0.0)))
  }

  test("ims_64: voxel-exact full read (gzip+shuffle)") {
    val r = new Hdf5Reader(s"$dir/ims_64.ims")
    try checkRegion(r, 0, 0, 64, 0, 64, 0, 64, Shape3(64, 64, 64))
    finally r.close()
  }

  test("ims_64_lz4: voxel-exact read through the lz4 filter") {
    val r = new Hdf5Reader(s"$dir/ims_64_lz4.ims")
    try checkRegion(r, 0, 0, 64, 0, 64, 0, 64, Shape3(64, 64, 64))
    finally r.close()
  }

  test("ims_padded: true shape differs from stored shape (X7)") {
    val m = Imaris.readMeta(s"$dir/ims_padded.ims")
    assert(m.trueShape0.shape == Shape3(100, 100, 100))
    assert(m.storedShapes == Seq(Shape3(128, 128, 128)))
    val r = new Hdf5Reader(s"$dir/ims_padded.ims")
    // a region straddling the true/padding boundary
    try checkRegion(r, 0, 90, 110, 90, 110, 90, 110, Shape3(100, 100, 100))
    finally r.close()
  }

  test("ims_pyramid: per-level voxel-exact reads and true-shape walk") {
    val m = Imaris.readMeta(s"$dir/ims_pyramid.ims")
    assert(m.numLevels == 3)
    assert(m.trueShapes == Seq(Shape3(64, 128, 128), Shape3(32, 64, 64), Shape3(16, 32, 32)))
    val r = new Hdf5Reader(s"$dir/ims_pyramid.ims")
    try {
      checkRegion(r, 1, 0, 32, 0, 64, 0, 64, Shape3(32, 64, 64))
      checkRegion(r, 2, 0, 16, 0, 32, 0, 32, Shape3(16, 32, 32))
    } finally r.close()
  }

  test("ims_tiny_edge: unfiltered chunks, unaligned region reads") {
    val m = Imaris.readMeta(s"$dir/ims_tiny_edge.ims")
    assert(m.trueShape0.shape == Shape3(33, 65, 17))
    val r = new Hdf5Reader(s"$dir/ims_tiny_edge.ims")
    // awkward offsets crossing chunk boundaries
    try checkRegion(r, 0, 5, 33, 31, 65, 3, 17, Shape3(33, 65, 17))
    finally r.close()
  }

  test("missing level raises MissingDatasetError semantics") {
    val r = new Hdf5Reader(s"$dir/ims_64.ims")
    try {
      assert(r.resolve(Imaris.dataPath(7)).isEmpty)
      intercept[Hdf5Reader.MissingDatasetError] {
        r.attributes("/DataSet/ResolutionLevel 7")
      }
    } finally r.close()
  }

  // ---- newer-libhdf5 layouts (tools/gen_fixtures_latest.py) --------------

  test("ims_sbv1: superblock v1 reads like v0") {
    val m = Imaris.readMeta(s"$dir/ims_sbv1.ims")
    assert(m.trueShape0.shape == Shape3(64, 64, 64))
    assert(m.chunk == Shape3(16, 32, 32))
    val r = new Hdf5Reader(s"$dir/ims_sbv1.ims")
    try checkRegion(r, 0, 0, 64, 0, 64, 0, 64, Shape3(64, 64, 64))
    finally r.close()
  }

  test("ims_sbv2: superblock v2, OHDR headers, link groups, contiguous layout") {
    val m = Imaris.readMeta(s"$dir/ims_sbv2.ims")
    assert(m.trueShape0.shape == Shape3(64, 64, 64))
    assert(m.numLevels == 1)
    val r = new Hdf5Reader(s"$dir/ims_sbv2.ims")
    try checkRegion(r, 0, 0, 64, 0, 64, 0, 64, Shape3(64, 64, 64))
    finally r.close()
  }

  test("ims_latest: superblock v3 pyramid — single-chunk/contiguous/compact levels") {
    val m = Imaris.readMeta(s"$dir/ims_latest.ims")
    assert(m.trueShape0.shape == Shape3(64, 64, 64))
    assert(m.storedShapes == Seq(Shape3(64, 64, 64), Shape3(32, 32, 32), Shape3(16, 16, 16)))
    assert(m.numLevels == 3)
    // attrs arrived through an OCHK continuation block
    assert(m.voxelSizeUm == ((1.0, 1.0, 1.0)))
    val r = new Hdf5Reader(s"$dir/ims_latest.ims")
    try {
      // L0: layout v4 chunked, Single-Chunk index, gzip+shuffle filtered
      checkRegion(r, 0, 0, 64, 0, 64, 0, 64, Shape3(64, 64, 64))
      // L1: contiguous; unaligned sub-region exercises the offset math
      checkRegion(r, 1, 3, 29, 5, 31, 7, 27, Shape3(32, 32, 32))
      // L2: compact (payload inline in the object header)
      checkRegion(r, 2, 0, 16, 0, 16, 0, 16, Shape3(16, 16, 16))
    } finally r.close()
  }

  test("ims_dense: fractal-heap links/attrs, FA/Implicit/EA/BTv2 chunk indexes") {
    // DataSetInfo carries 10 links (> the 8-link compact limit) in a
    // fractal heap + type-5 v2 B-tree; Image carries its 10 attrs in a
    // dense (type-8) index — the layout libhdf5 writes for real
    // libver='latest' Imaris trees. The 4 pyramid levels exercise the
    // FULL v4 chunk-index set: Fixed Array, Implicit, Extensible Array,
    // and version-2 B-tree.
    val m = Imaris.readMeta(s"$dir/ims_dense.ims")
    assert(m.trueShape0.shape == Shape3(64, 64, 64))
    assert(m.numLevels == 4)
    assert(m.voxelSizeUm == ((1.0, 1.0, 1.0)), "dense attributes must decode")
    val r = new Hdf5Reader(s"$dir/ims_dense.ims")
    try {
      // all 10 dense links resolve
      assert(r.exists("/DataSetInfo/Image"))
      for (i <- 0 until 9) assert(r.exists(s"/DataSetInfo/Channel $i Info"))
      assert(!r.exists("/DataSetInfo/Channel 9 Info"))
      // all 10 dense attributes decode
      val attrs = r.attributes("/DataSetInfo/Image")
      assert(attrs.size == 10 && attrs("X") == "64" && attrs("Unit") == "um"
        && attrs("ExtMax2") == "64.0")
      // L0: Fixed Array index over 8 gzip+shuffle 32^3 chunks — full read
      // plus an unaligned region crossing chunk borders
      checkRegion(r, 0, 0, 64, 0, 64, 0, 64, Shape3(64, 64, 64))
      checkRegion(r, 0, 17, 49, 3, 61, 30, 35, Shape3(64, 64, 64))
      // L1: Implicit index over 8 unfiltered 16^3 chunks
      checkRegion(r, 1, 0, 32, 0, 32, 0, 32, Shape3(32, 32, 32))
      checkRegion(r, 1, 7, 25, 0, 16, 9, 23, Shape3(32, 32, 32))
      // L2: Extensible Array index over 8 8^3 chunks
      checkRegion(r, 2, 0, 16, 0, 16, 0, 16, Shape3(16, 16, 16))
      checkRegion(r, 2, 3, 13, 1, 9, 5, 11, Shape3(16, 16, 16))
      // L3: version-2 B-tree (type 10/11) index over 8 4^3 chunks
      checkRegion(r, 3, 0, 8, 0, 8, 0, 8, Shape3(8, 8, 8))
      checkRegion(r, 3, 1, 7, 2, 6, 0, 5, Shape3(8, 8, 8))
    } finally r.close()
  }

  // ---- the one-pass decode against the per-filter pipeline ---------------

  /** The per-filter pipeline, written independently of the reader: each
    * chunk's stored bytes through every filter in reverse pipeline order
    * (inflate, unshuffle, lz4), then read as LE voxels and copied into the
    * region; a chunk missing from the index is fill.
    */
  private def perFilter(file: String, ds: Hdf5Reader.Dataset, lo: Shape3, hi: Shape3): Array[Short] = {
    val region = Shape3(hi.z - lo.z, hi.y - lo.y, hi.x - lo.x)
    val out = new Array[Short](region.voxels.toInt)
    val chunk = Shape3(ds.chunk(0), ds.chunk(1), ds.chunk(2))
    val rawLen = chunk.voxels.toInt * 2
    val raf = new java.io.RandomAccessFile(file, "r")
    try graft.core.Voxels.forEachTile(lo, hi, chunk, hi) { t =>
      ds.chunkIndex.get((t.origin.z, t.origin.y, t.origin.x)).foreach { case (addr, len) =>
        // -2: the reader's marker for a compact layout's inline payload
        var data =
          if (addr == -2L) ds.inline.get
          else { val b = new Array[Byte](len); raf.seek(addr); raf.readFully(b); b }
        ds.filters.reverse.foreach { f =>
          data = f.id match {
            case 1 =>
              val inf = new java.util.zip.Inflater()
              inf.setInput(data)
              val o = new Array[Byte](rawLen)
              var n = 0
              while (n < rawLen && !inf.finished()) n += inf.inflate(o, n, rawLen - n)
              inf.end()
              o
            case 2 =>
              val es = f.clientData.head
              val n = data.length / es
              Array.tabulate(data.length)(i => data((i % es) * n + i / es))
            case 32004 =>
              val bb = java.nio.ByteBuffer.wrap(data)
              val total = bb.getLong().toInt
              val block = bb.getInt()
              val o = new Array[Byte](total)
              val lz4 = net.jpountz.lz4.LZ4Factory.safeInstance().safeDecompressor()
              var at = 0
              while (at < total) {
                val n = bb.getInt()
                val want = math.min(block, total - at)
                if (n == want) bb.get(o, at, n)
                else {
                  lz4.decompress(data, bb.position(), n, o, at, want)
                  bb.position(bb.position() + n)
                }
                at += want
              }
              o
          }
        }
        assert(data.length == rawLen)
        val vox = new Array[Short](rawLen / 2)
        java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer().get(vox)
        graft.core.Voxels.copyBox(vox, chunk, t.origin, out, region, lo, t.lo, t.extent)
      }
    } finally raf.close()
    out
  }

  test("one-pass decode equals the per-filter pipeline on every fixture") {
    // shuffle+deflate (ims_64, ims_dense L0), deflate only (ims_padded,
    // ims_pyramid, ims_aniso), lz4 (ims_64_lz4), none (ims_tiny_edge), the
    // contiguous and compact layouts (ims_latest L1, L2, ims_sbv2)
    val files = new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".ims")).sorted
    assert(files.length == 10)
    for (name <- files) {
      val r = new Hdf5Reader(s"$dir/$name")
      try {
        val m = Imaris.readMeta(r)
        for (l <- 0 until m.numLevels) {
          val ds = r.openDataset(Imaris.dataPath(l))
          val ts = m.trueShapes(l)
          val stored = Shape3(ds.shape(0), ds.shape(1), ds.shape(2))
          // every other chunk dropped: those read as fill
          val sparse = ds.copy(chunkIndex = ds.chunkIndex.filter { case ((z, y, x), _) =>
            (z / ds.chunk(0) + y / ds.chunk(1) + x / ds.chunk(2)) % 2 == 0 })
          val boxes = Seq(
            Shape3(0, 0, 0) -> ts, // the true shape: edge-clipped chunks
            Shape3(0, 0, 0) -> stored,
            Shape3(math.min(3, ts.z - 1), math.min(5, ts.y - 1), math.min(1, ts.x - 1)) ->
              Shape3(ts.z - ts.z / 3, ts.y - ts.y / 5, ts.x - ts.x / 7))
          for ((d, what) <- Seq(ds -> "all chunks", sparse -> "sparse"); (lo, hi) <- boxes) {
            val want = perFilter(s"$dir/$name", d, lo, hi)
            // a dirty reused buffer: every region voxel must be written
            val got = Array.fill[Short](want.length + 7)(0x5a5a)
            r.readRegionInto(d, lo.z, hi.z, lo.y, hi.y, lo.x, hi.x, got)
            assert(got.take(want.length).sameElements(want), s"$name L$l $what box $lo..$hi")
            assert(got.drop(want.length).forall(_ == 0x5a5a), s"$name L$l $what: tail touched")
          }
        }
      } finally r.close()
    }
  }
}
