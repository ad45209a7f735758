package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Geometry.Shape3
import graft.core.Voxels

/** Properties of the voxel-copy kernel: [[Voxels.copyBox]], the tile
  * walk and the little-endian conversions each equal a naive per-voxel
  * reference over random shapes and origins, including tiles clipped at
  * the array edge, regions reaching past it and empty intersections.
  */
class VoxelsSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val r = Check.check(Check.Parameters.default.withMinSuccessfulTests(300), p)
    assert(r.passed, r.status.toString)
  }

  private val shape: Gen[Shape3] =
    for (z <- Gen.choose(1L, 9L); y <- Gen.choose(1L, 9L); x <- Gen.choose(1L, 9L)) yield Shape3(z, y, x)
  private val point: Gen[Shape3] =
    for (z <- Gen.choose(0L, 12L); y <- Gen.choose(0L, 12L); x <- Gen.choose(0L, 12L)) yield Shape3(z, y, x)

  private def at(s: Shape3, z: Long, y: Long, x: Long): Int = ((z * s.y + y) * s.x + x).toInt
  private def value(z: Long, y: Long, x: Long): Short = (z * 10007 + y * 101 + x + 1).toShort
  private def voxels(s: Shape3): Seq[(Long, Long, Long)] =
    for (z <- 0L until s.z; y <- 0L until s.y; x <- 0L until s.x) yield (z, y, x)

  test("copyBox equals a per-voxel copy of any box inside both buffers") {
    // per axis: the two buffer extents, the box extent (0 = empty) and the
    // box's offset in each buffer
    val axis = for {
      s <- Gen.choose(1L, 9L); d <- Gen.choose(1L, 9L)
      e <- Gen.choose(0L, math.min(s, d))
      os <- Gen.choose(0L, s - e); od <- Gen.choose(0L, d - e)
    } yield (s, d, e, os, od)
    val cases = for (az <- axis; ay <- axis; ax <- axis; p <- point) yield (az, ay, ax, p)
    check(Prop.forAll(cases) { case (az, ay, ax, p) =>
      def sh(f: ((Long, Long, Long, Long, Long)) => Long) = Shape3(f(az), f(ay), f(ax))
      val (srcShape, dstShape, extent) = (sh(_._1), sh(_._2), sh(_._3))
      val lo = Shape3(p.z + 9, p.y + 9, p.x + 9)
      val srcOrigin = Shape3(lo.z - az._4, lo.y - ay._4, lo.x - ax._4)
      val dstOrigin = Shape3(lo.z - az._5, lo.y - ay._5, lo.x - ax._5)
      // oversized buffers: the kernel must use only the shape's prefix
      val src = Array.tabulate(srcShape.voxels.toInt + 3)(i => (i * 7 + 1).toShort)
      val dst = Array.fill(dstShape.voxels.toInt + 3)(-1.toShort)
      val want = dst.clone()
      for ((z, y, x) <- voxels(extent)) {
        val (gz, gy, gx) = (lo.z + z, lo.y + y, lo.x + x)
        want(at(dstShape, gz - dstOrigin.z, gy - dstOrigin.y, gx - dstOrigin.x)) =
          src(at(srcShape, gz - srcOrigin.z, gy - srcOrigin.y, gx - srcOrigin.x))
      }
      Voxels.copyBox(src, srcShape, srcOrigin, dst, dstShape, dstOrigin, lo, extent)
      dst.sameElements(want)
    })
  }

  test("copyBox rejects a box outside either buffer") {
    val s = Shape3(2, 2, 2)
    intercept[IllegalArgumentException](Voxels.copyBox(new Array[Short](8), s, Shape3(1, 0, 0),
      new Array[Short](8), s, Shape3(0, 0, 0), Shape3(0, 0, 0), Shape3(1, 1, 1)))
    intercept[IllegalArgumentException](Voxels.copyBox(new Array[Short](8), s, Shape3(0, 0, 0),
      new Array[Short](7), s, Shape3(0, 0, 0), Shape3(0, 0, 0), Shape3(1, 1, 1)))
  }

  test("tile walk + copyBox assemble any region exactly as a per-voxel read") {
    val cases = for (bounds <- shape; tile <- shape; a <- point; b <- point) yield (bounds, tile, a, b)
    check(Prop.forAll(cases) { case (bounds, tile, a, b) =>
      val lo = Shape3(math.min(a.z, b.z), math.min(a.y, b.y), math.min(a.x, b.x))
      val hi = Shape3(math.max(a.z, b.z), math.max(a.y, b.y), math.max(a.x, b.x))
      val region = Shape3(hi.z - lo.z, hi.y - lo.y, hi.x - lo.x)
      val out = Array.fill(region.voxels.toInt)(-1.toShort)
      val seen = new Array[Int](region.voxels.toInt)
      var tilesOk = true
      Voxels.forEachTile(lo, hi, tile, bounds) { t =>
        val o = t.origin
        tilesOk &&= o == Shape3(t.gz * tile.z, t.gy * tile.y, t.gx * tile.x) &&
          t.shape == Shape3(math.min(tile.z, bounds.z - o.z), math.min(tile.y, bounds.y - o.y),
            math.min(tile.x, bounds.x - o.x)) &&
          t.extent.voxels > 0
        // the tile's buffer, filled per voxel from the array
        val buf = Array.tabulate(t.shape.voxels.toInt) { i =>
          val x = i % t.shape.x; val y = (i / t.shape.x) % t.shape.y; val z = i / (t.shape.x * t.shape.y)
          value(o.z + z, o.y + y, o.x + x)
        }
        Voxels.copyBox(buf, t.shape, o, out, region, lo, t.lo, t.extent)
        for ((z, y, x) <- voxels(t.extent))
          seen(at(region, t.lo.z + z - lo.z, t.lo.y + y - lo.y, t.lo.x + x - lo.x)) += 1
      }
      val voxelsOk = voxels(region).forall { case (z, y, x) =>
        val (gz, gy, gx) = (lo.z + z, lo.y + y, lo.x + x)
        val inside = gz < bounds.z && gy < bounds.y && gx < bounds.x
        val i = at(region, z, y, x)
        seen(i) == (if (inside) 1 else 0) &&
          out(i) == (if (inside) value(gz, gy, gx) else -1.toShort)
      }
      tilesOk && voxelsOk
    })
  }

  test("toLE / fromLE equal per-voxel little-endian puts and gets") {
    check(Prop.forAll(Gen.listOf(Gen.choose(Short.MinValue, Short.MaxValue)), Gen.choose(0, 5)) {
      (vs, off) =>
        val src = vs.toArray
        val n = src.length
        val want = ByteBuffer.allocate(2 * n).order(ByteOrder.LITTLE_ENDIAN)
        src.foreach(want.putShort)
        val bytes = Array.fill(2 * n + 3)(7.toByte)
        Voxels.toLE(src, n, bytes)
        val shifted = Array.fill[Byte](off)(9) ++ bytes
        val back = Array.fill(n + 2)(-1.toShort)
        Voxels.fromLE(shifted, off, back, n)
        bytes.take(2 * n).sameElements(want.array()) && bytes.drop(2 * n).forall(_ == 7) &&
          back.take(n).sameElements(src) && back.drop(n).forall(_ == -1)
    })
  }
}
