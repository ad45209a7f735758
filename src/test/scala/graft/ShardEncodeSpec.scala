package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Geometry.Shape3
import graft.sinks.ZarrV3

/** The multi-threaded shard writer: [[ZarrV3.writeShard]] at any
  * `threads` writes exactly the bytes of the serial in-memory
  * [[ZarrV3.encodeShard]], and those bytes decode back to the data.
  */
class ShardEncodeSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private lazy val dir = Files.createTempDirectory("shard-encode").toString

  private def data(shape: Shape3, seed: Int): Array[Short] =
    // runs of repeats and noise, so every codec has something to compress
    Array.tabulate(shape.voxels.toInt)(i => ((i / 3) * 31 + seed + (i % 7) * (i % 5)).toShort)

  private def written(name: String, d: Array[Short], ds: Shape3, shard: Shape3, chunk: Shape3,
                      codec: String, threads: Int): Array[Byte] = {
    val path = s"$dir/$name"
    val n = ZarrV3.writeShard(conf, path, d, ds, shard, chunk, 3, codec, threads)
    val bytes = ZarrV3.read(conf, path)
    assert(n == bytes.length)
    bytes
  }

  /** The file equals `encodeShard`'s bytes and decodes back to `d`. */
  private def matches(bytes: Array[Byte], d: Array[Short], ds: Shape3, shard: Shape3,
                      chunk: Shape3, codec: String): Boolean =
    bytes.sameElements(ZarrV3.encodeShard(d, ds, shard, chunk, 3, codec)) &&
      ZarrV3.decodeShard(bytes, ds, shard, chunk).sameElements(d.take(ds.voxels.toInt))

  test("writeShard at 1, 2, 4 and 7 threads equals encodeShard for every codec") {
    // per axis: the chunk, the shard as 1-3 chunks and the data extent up
    // to the shard, so chunks need not divide the data
    val axis = for {
      c <- Gen.choose(1L, 9L); k <- Gen.choose(1L, 3L); d <- Gen.choose(1L, c * k)
    } yield (c, c * k, d)
    val cases = for {
      az <- axis; ay <- axis; ax <- axis
      codec <- Gen.oneOf("zstd", "gzip", "blosc"); threads <- Gen.oneOf(1, 2, 4, 7)
      seed <- Gen.choose(0, 1000)
    } yield (az, ay, ax, codec, threads, seed)
    var i = 0
    val p = Prop.forAll(cases) { case (az, ay, ax, codec, threads, seed) =>
      val chunk = Shape3(az._1, ay._1, ax._1)
      val shard = Shape3(az._2, ay._2, ax._2)
      val ds = Shape3(az._3, ay._3, ax._3)
      // an oversized (reused) payload: only the dataShape prefix is data
      val d = data(ds, seed) ++ Array.fill(5)(-1.toShort)
      i += 1
      matches(written(s"p$i", d, ds, shard, chunk, codec, threads), d, ds, shard, chunk, codec)
    }
    val r = Check.check(Check.Parameters.default.withMinSuccessfulTests(120), p)
    assert(r.passed, r.status.toString)
  }

  test("a small clamped chunk right after a large one encodes from chunk-sized scratch") {
    // level 0 then a clamped top level, as one pyramid writes them: every
    // encode thread stages the large chunk first, then the small one
    val bigChunk = Shape3(16, 32, 32)
    val big = Shape3(32, 64, 64)
    val d0 = data(big, 1)
    assert(matches(written("big", d0, big, big, bigChunk, "zstd", 4), d0, big, big, bigChunk, "zstd"))
    val smallChunk = Shape3(4, 8, 8)
    val small = Shape3(8, 16, 13)
    val shard = Shape3(8, 16, 16)
    val d1 = data(small, 2)
    assert(matches(written("small", d1, small, shard, smallChunk, "zstd", 4),
      d1, small, shard, smallChunk, "zstd"))
  }

  test("an encode failure is rethrown as at one thread, and no pool thread keeps running") {
    val ds = Shape3(16, 16, 16)
    val d = data(ds, 3)
    def failure(threads: Int): Throwable = intercept[Throwable](
      ZarrV3.writeShard(conf, s"$dir/bad$threads", d, ds, ds, Shape3(4, 4, 4), 3, "lz77", threads))
    // the codec's own error, not a wrapper, at every thread count
    Seq(failure(1), failure(4)).foreach { e =>
      assert(e.getClass == classOf[RuntimeException])
      assert(e.getMessage == "unsupported zarr codec: lz77 (zstd|blosc|gzip)")
    }
    // a truncated shard would fail its readers; a missing one reads as fill
    Seq("bad1", "bad4").foreach(f => assert(!new java.io.File(s"$dir/$f").exists, f))
    def busy = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).filter(t =>
      t.getName.startsWith("zarr-encode-") && t.getState == Thread.State.RUNNABLE)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (busy.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(busy.isEmpty, busy.map(_.getName).mkString(", "))
  }
}
