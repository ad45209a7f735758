package graft

import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Geometry
import graft.core.Geometry.Shape3
import graft.plans.Downsample

/** [[Downsample.reduceInto]] equals a per-window reference in every mode,
  * for factors 1–3 per axis, odd extents (clipped edge windows) and an
  * output extent equal to or smaller than ceil(src / f).
  */
class DownsampleSpec extends AnyFunSuite {

  /** One output voxel at a time: copy its window, clipped at the source
    * edge, then reduce it.
    */
  private def reference(src: Array[Short], s: Shape3, d: Shape3, f: Shape3,
                        mode: String): Array[Short] = {
    val out = new Array[Short](d.voxels.toInt)
    for (dz <- 0L until d.z; dy <- 0L until d.y; dx <- 0L until d.x) {
      val w = for {
        z <- dz * f.z until math.min(dz * f.z + f.z, s.z)
        y <- dy * f.y until math.min(dy * f.y + f.y, s.y)
        x <- dx * f.x until math.min(dx * f.x + f.x, s.x)
      } yield src(((z * s.y + y) * s.x + x).toInt) & 0xffff
      val sorted = w.sorted
      val v = mode match {
        case "stride" => w.head
        case "mean" => (w.map(_.toLong).sum / w.size).toInt
        case "min" => w.min
        case "max" => w.max
        case "median" => sorted((w.size - 1) / 2)
        // most frequent, smallest first on ties
        case "mode" => w.groupBy(identity).toSeq.map { case (k, g) => (-g.size, k) }.min._2
      }
      out(((dz * d.y + dy) * d.x + dx).toInt) = v.toShort
    }
    out
  }

  test("every mode equals the per-window reference") {
    // per axis: factor, source extent and how many output cells to drop
    // from ceil(src / f)
    val axis = for {
      f <- Gen.choose(1L, 3L); n <- Gen.choose(1L, 11L); drop <- Gen.frequency(3 -> 0L, 1 -> 1L)
    } yield (f, n, math.max(1L, Geometry.ceilDiv(n, f) - drop))
    val cases = for {
      az <- axis; ay <- axis; ax <- axis
      mode <- Gen.oneOf("stride", "mean", "min", "max", "median", "mode")
      seed <- Gen.choose(0, 1 << 16); spread <- Gen.oneOf(4, 65536)
    } yield (az, ay, ax, mode, seed, spread)
    val p = Prop.forAll(cases) { case (az, ay, ax, mode, seed, spread) =>
      val f = Shape3(az._1, ay._1, ax._1)
      val s = Shape3(az._2, ay._2, ax._2)
      val d = Shape3(az._3, ay._3, ax._3)
      // a narrow spread makes ties (mode), a wide one reaches 0xffff
      val rnd = new scala.util.Random(seed)
      val src = Array.fill(s.voxels.toInt)(rnd.nextInt(spread).toShort)
      // an oversized, dirty output buffer: cells past d stay untouched
      val out = Array.fill(d.voxels.toInt + 4)(7.toShort)
      Downsample.reduceInto(src, s, d, f, mode, out)
      out.take(d.voxels.toInt).sameElements(reference(src, s, d, f, mode)) &&
        out.drop(d.voxels.toInt).forall(_ == 7)
    }
    val r = Check.check(Check.Parameters.default.withMinSuccessfulTests(400), p)
    assert(r.passed, r.status.toString)
  }

  test("an output extent past ceil(src / f) is rejected") {
    val e = intercept[IllegalArgumentException](Downsample.reduce(
      new Array[Short](27), Shape3(3, 3, 3), Shape3(2, 2, 3), Shape3(2, 2, 2), "mean"))
    assert(e.getMessage.contains("exceeds ceil"))
  }
}
