package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Geometry, Voxels}
import graft.core.Geometry.Shape3
import graft.sinks.ZarrV3

/** [[ZarrV3.assembleShard]]: a shard copied out of the chunk blobs that
  * other tasks encoded is byte-identical to [[ZarrV3.writeShard]] over the
  * same voxels, and a missing, truncated or incomplete blob fails the
  * shard loudly instead of writing a chunk inside the data as elided.
  */
class ShardAssemblySpec extends AnyFunSuite {

  private val conf = new Configuration()
  // a level whose shards, blob tiles and edge clips all differ: shards
  // span 2×2×2 tiles, and the last tile and shard of each axis are clipped
  private val level = Shape3(24, 40, 36)
  private val chunk = Shape3(8, 8, 8)
  private val tile = Shape3(8, 16, 16)
  private val shard = Shape3(16, 32, 32)
  private val voxels = Array.tabulate(level.voxels.toInt)(i => ((i * 2654435761L) >>> 13).toShort)

  private def box(lo: Shape3, shape: Shape3): Array[Short] = {
    val out = new Array[Short](shape.voxels.toInt)
    Voxels.copyBox(voxels, level, Shape3(0, 0, 0), out, shape, lo, lo, shape)
    out
  }

  /** One blob per tile of the level, as an emitting task writes it. */
  private def blobs(codec: String): String = {
    val dir = Files.createTempDirectory("blobs").toString
    Voxels.forEachTile(Shape3(0, 0, 0), level, tile, level) { t =>
      ZarrV3.writeShard(conf, s"$dir/${t.gz}_${t.gy}_${t.gx}", box(t.origin, t.shape), t.shape,
        Geometry.cover(t.shape, chunk), chunk, 3, codec)
    }
    dir
  }

  private def assemble(dir: String, path: String, origin: Shape3): Long =
    ZarrV3.assembleShard(conf, path, level, origin, shard, chunk, tile, dir)

  test("every shard equals writeShard over its voxels, for every codec") {
    for (codec <- Seq("zstd", "blosc", "gzip")) {
      val dir = blobs(codec)
      val out = Files.createTempDirectory("assembled").toString
      Voxels.forEachTile(Shape3(0, 0, 0), level, shard, level) { s =>
        val path = s"$out/${s.gz}_${s.gy}_${s.gx}"
        val n = assemble(dir, path, s.origin)
        val got = ZarrV3.read(conf, path)
        assert(n == got.length)
        assert(got.sameElements(ZarrV3.encodeShard(box(s.origin, s.shape), s.shape, shard, chunk, 3, codec)),
          s"$codec shard ${s.origin}")
      }
    }
  }

  test("a missing or truncated blob fails the shard, naming it, and writes nothing") {
    val dir = blobs("zstd")
    val out = Files.createTempDirectory("assembled-bad").toString
    val victim = new java.io.File(s"$dir/0_1_0")
    val good = Files.readAllBytes(victim.toPath)
    def fails(why: String): Unit = {
      val path = s"$out/0_0_0"
      val e = intercept[IllegalArgumentException](assemble(dir, path, Shape3(0, 0, 0)))
      assert(e.getMessage.contains(path), s"$why: ${e.getMessage}")
      assert(!new java.io.File(path).exists(), s"$why: a shard file was left")
    }
    assert(victim.delete())
    fails("missing")
    Files.write(victim.toPath, java.util.Arrays.copyOf(good, good.length / 2))
    fails("truncated")
    Files.write(victim.toPath, java.util.Arrays.copyOf(good, 10))
    fails("shorter than its index")
    // a blob with a chunk inside the data elided: encoded over a smaller
    // extent, so the chunks past it are (-1, -1) in its index
    ZarrV3.writeShard(conf, victim.toString, box(Shape3(0, 16, 0), Shape3(8, 8, 16)),
      Shape3(8, 8, 16), Shape3(8, 16, 16), chunk, 3, "zstd")
    fails("elided chunk")
  }
}
