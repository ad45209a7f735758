package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Geometry
import graft.core.Geometry.{Shape3, TrueShape}
import graft.plans.ImarisToZarr.{FromHdf5, FromPartials, FromStore}

/** The driver's planning-time check that every task buffer fits one JVM
  * array (2³¹−1 voxels), on the planner's own task geometry.
  */
class TaskBufferCheckSpec extends AnyFunSuite {

  private val f = Shape3(2, 2, 2)

  private def first(level: Int, shape: Shape3, shard: Shape3) =
    Geometry.shardTasks("tile.ims", level, TrueShape(shape), shard).head

  private def rejected(check: => Unit): String =
    intercept[IllegalArgumentException](check).getMessage

  test("file mode: a level over 2^31 voxels is rejected, naming partitionMode") {
    val level = Shape3(2048, 1024, 1024) // 2^31 voxels: one past Int.MaxValue
    val (chunk, _) = Geometry.clampSpec(level, Shape3(128, 256, 256), Shape3(512, 512, 512))
    val cover = Shape3(Geometry.ceilDiv(level.z, chunk.z) * chunk.z,
      Geometry.ceilDiv(level.y, chunk.y) * chunk.y, Geometry.ceilDiv(level.x, chunk.x) * chunk.x)
    val msg = rejected(ImarisToZarr.checkTaskBuffers(
      first(0, level, cover), FromHdf5, f, fused = false, "file"))
    Seq("tile.ims", "level 0", "region", "2147483648", "partitionMode").foreach(w =>
      assert(msg.contains(w), msg))
  }

  test("shard 1024^3 with the store-read source: the 2^33-voxel source region is rejected") {
    val src = Shape3(2048, 2048, 2048)
    val level = Geometry.downsampledShape(src, f)
    val store = FromStore("store/0", src, Shape3(1024, 1024, 1024), Shape3(128, 256, 256))
    val t = first(1, level, Shape3(1024, 1024, 1024))
    assert(t.region.voxels == (1L << 30)) // the region itself fits
    val msg = rejected(ImarisToZarr.checkTaskBuffers(t, store, f, fused = false, "shard"))
    Seq("tile.ims", "level 1", "source region", "8589934592", "shard size").foreach(w =>
      assert(msg.contains(w), msg))
  }

  test("the default 512^3 shard passes with every source, fused or not") {
    val shard = Shape3(512, 512, 512)
    val src = Shape3(4096, 4096, 4096)
    val level = Geometry.downsampledShape(src, f)
    val t = first(1, level, shard)
    ImarisToZarr.checkTaskBuffers(t, FromHdf5, f, fused = true, "shard")
    ImarisToZarr.checkTaskBuffers(t, FromPartials("p", Shape3(256, 256, 256), level), f,
      fused = true, "shard")
    ImarisToZarr.checkTaskBuffers(t, FromStore("store/0", src, shard, Shape3(128, 256, 256)), f,
      fused = false, "shard")
  }
}
