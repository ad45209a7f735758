package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** q_c102 — classifier score calibration against the filter panel.
  *
  * No planted fixture: the report is a pure composition of four
  * already-pinned signals, so the spec cross-checks it two independent
  * ways on sf0.001 —
  *  1. the panel side against q_c49's emitted votes (Σ n_kept_others
  *     must equal the count of docs with ≥ 2 of rules/ppl/ent), and
  *  2. the binning side against a Scala replay of the integer bin
  *     formula over classifierRawShared's (wsum, n_tokens) frame —
  * plus the structural invariants (bins ⊆ [0,9], totals conserved,
  * keep_ppm floor, per-bin mean scores non-decreasing: bins partition
  * disjoint score ranges).
  */
class ScoreCalibrationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-calibration-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def evict(): Unit = {
    graft.core.SessionMemo.evict(spark)
    graft.core.CachedRdds.drain()
  }

  test("q_c102: structural invariants and monotone per-bin mean scores") {
    evict()
    val rows = SparkEntry.queries("q_c102_score_calibration")(spark, sf).collect()
    evict()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) >= 0L && r.getLong(0) <= 9L))
    assert(rows.map(_.getLong(1)).sum === 500L, "every doc lands in one bin")
    rows.foreach { r =>
      assert(r.getLong(2) >= 0L && r.getLong(2) <= r.getLong(1))
      assert(r.getAs[Long]("keep_ppm") === r.getLong(2) * 1000000L / r.getLong(1))
    }
    val means = rows.sortBy(_.getLong(0)).map(_.getAs[Double]("mean_score"))
    means.zip(means.tail).foreach { case (a, b) =>
      assert(a <= b + 1e-5, s"bins partition disjoint score ranges: $a vs $b")
    }
  }

  test("q_c102 panel side equals q_c49's votes; bins equal an integer replay") {
    evict()
    val cal = SparkEntry.queries("q_c102_score_calibration")(spark, sf).collect()
    val votes = SparkEntry.queries("q_c49_quality_ensemble")(spark, sf).collect()
    val keptOthers = votes.count(r =>
      r.getAs[Int]("v_rules") + r.getAs[Int]("v_ppl") + r.getAs[Int]("v_ent") >= 2)
    assert(cal.map(_.getLong(2)).sum === keptOthers.toLong,
      "the calibration's panel column IS q_c49's rules+ppl+ent majority")

    val raw = graft.operators.TextQueries.classifierRawShared(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(2))) // (n_tokens, wsum)
    evict()
    val expectBins = raw.groupBy { case (n, w) =>
      if (n == 0L) 5L else 10L * (w + n * 1024L) / (n * 2048L)
    }.map { case (b, xs) => b -> xs.length.toLong }
    val gotBins = cal.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotBins === expectBins,
      "per-bin doc counts match the independent integer replay")
  }
}
