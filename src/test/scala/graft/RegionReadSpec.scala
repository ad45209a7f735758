package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Geometry
import graft.core.Geometry.Shape3
import graft.plans.ZarrRegion
import graft.sinks.{ZarrV2, ZarrV3}

/** Region reads that start and end mid-tile on every axis, through the
  * Zarr v3 shard reader and the Zarr v2 chunk reader, into one dirty
  * buffer reused across reads: each read equals the full read sliced.
  */
class RegionReadSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private val shape = Shape3(37, 29, 23)
  private val shard = Shape3(16, 16, 16)
  private val chunk = Shape3(8, 8, 8)
  private val data = Array.tabulate(shape.voxels.toInt)(i => (i * 31 % 65521 + 1).toShort)

  /** Regions with both ends strictly inside a tile (8 | 16) on all axes,
    * plus one inside a single chunk and the whole array.
    */
  private val regions = Seq(
    (3L, 35L, 5L, 27L, 1L, 21L), (9L, 30L, 13L, 18L, 7L, 10L),
    (17L, 18L, 2L, 3L, 22L, 23L), (0L, 37L, 0L, 29L, 0L, 23L))

  private def slice(full: Array[Short], r: (Long, Long, Long, Long, Long, Long)): Array[Short] = {
    val (z0, z1, y0, y1, x0, x1) = r
    (for (z <- z0 until z1; y <- y0 until y1; x <- x0 until x1)
      yield full(((z * shape.y + y) * shape.x + x).toInt)).toArray
  }

  test("v3 and v2 region reads over a dirty reused buffer equal the full read sliced") {
    val v3 = Files.createTempDirectory("regionv3").toString
    Geometry.shardTasks("f", 0, Geometry.TrueShape(shape), shard).foreach { t =>
      val region = slice(data, (t.z0, t.z1, t.y0, t.y1, t.x0, t.x1))
      ZarrV3.writeShard(conf, s"$v3/${ZarrV3.shardKey(t.sz, t.sy, t.sx)}",
        region, t.region.shape, shard, chunk)
    }
    val v2 = Files.createTempDirectory("regionv2").toString
    ZarrV2.writeRegionChunks(conf, v2, data, shape, Shape3(0, 0, 0), chunk)

    val fullV3 = ZarrRegion.read(conf, v3, shape, shard, chunk, 0, 37, 0, 29, 0, 23)
    val fullV2 = ZarrV2.readRegion(conf, v2, shape, chunk, 0, 37, 0, 29, 0, 23)
    assert(fullV3.sameElements(data) && fullV2.sameElements(data))

    val dirty = Array.fill(shape.voxels.toInt)(4242.toShort)
    for (r @ (z0, z1, y0, y1, x0, x1) <- regions) {
      val want = slice(data, r)
      java.util.Arrays.fill(dirty, 4242.toShort)
      ZarrRegion.readInto(conf, v3, shape, shard, chunk, z0, z1, y0, y1, x0, x1, dirty)
      assert(dirty.take(want.length).sameElements(want), s"v3 $r")
      ZarrV2.readRegionInto(conf, v2, shape, chunk, z0, z1, y0, y1, x0, x1, dirty)
      assert(dirty.take(want.length).sameElements(want), s"v2 $r")
    }
  }

  test("allowMissing: a missing v2 chunk reads as fill over a dirty reused buffer") {
    val v2 = Files.createTempDirectory("regionv2hole").toString
    ZarrV2.writeRegionChunks(conf, v2, data, shape, Shape3(0, 0, 0), chunk)
    // chunk (1, 2, 1) covers z [8,16), y [16,24), x [8,16)
    assert(new java.io.File(s"$v2/1.2.1").delete())
    val full = ZarrV2.readRegion(conf, v2, shape, chunk, 0, 37, 0, 29, 0, 23, allowMissing = true)
    for (z <- 0 until 37; y <- 0 until 29; x <- 0 until 23) {
      val hole = z / 8 == 1 && y / 8 == 2 && x / 8 == 1
      val i = (z * 29 + y) * 23 + x
      assert(full(i) == (if (hole) ZarrV2.Fill else data(i)), s"($z,$y,$x)")
    }
    val dirty = Array.fill(shape.voxels.toInt)(4242.toShort)
    for (r @ (z0, z1, y0, y1, x0, x1) <- regions) {
      val want = slice(full, r)
      java.util.Arrays.fill(dirty, 4242.toShort)
      ZarrV2.readRegionInto(conf, v2, shape, chunk, z0, z1, y0, y1, x0, x1, dirty,
        allowMissing = true)
      assert(dirty.take(want.length).sameElements(want), s"$r")
    }
  }
}
