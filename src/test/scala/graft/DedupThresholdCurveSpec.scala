package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** q_c100 — dedup threshold-retention curve.
  *
  * Planted fixture with one pair on each side of the τ grid's interior
  * boundary (3-word shingles, DISTINCT per doc):
  *  - docs 1,2: identical 6-word texts → 4 shared shingles, uni 4,
  *    Jaccard 1.0 — survives every τ.
  *  - docs 3,4: differ in the last word → shared 3, uni 5, Jaccard
  *    exactly 0.6 — survives τ10 ∈ {5, 6} (30 ≥ 25, 30 ≥ 30), dies at
  *    τ10 = 7 (30 < 35). The boundary case pins the ≥ (not >) integer
  *    threshold rule.
  *  - doc 5: unrelated → never paired.
  * n_total = 5 ⇒ touched_ppm = n_docs·10⁶ DIV 5.
  */
class DedupThresholdCurveSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tau-curve-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dir = java.nio.file.Files.createTempDirectory("graft-taucurve").toString
    val s = spark
    import s.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "s1"),
      (2L, "alpha beta gamma delta epsilon zeta", "s1"),
      (3L, "one two three four five six", "s2"),
      (4L, "one two three four five other", "s2"),
      (5L, "completely unrelated filler words here now", "s3"))
      .toDF("doc_id", "text", "source").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    graft.core.LocalArtifacts.deleteRecursively(dir)
  }

  private def evict(): Unit = {
    graft.core.SessionMemo.evict(spark)
    graft.core.CachedRdds.drain()
  }

  test("q_c100: boundary pair dies exactly at τ10 = 7; ppm floors pinned") {
    evict()
    val rows = SparkEntry.queries("q_c100_dedup_threshold_curve")(spark, dir)
      .collect()
    evict()
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq
    assert(got === Seq(
      (5L, 2L, 4L, 5L, 800000L),
      (6L, 2L, 4L, 5L, 800000L),
      (7L, 1L, 2L, 5L, 400000L),
      (8L, 1L, 2L, 5L, 400000L),
      (9L, 1L, 2L, 5L, 400000L)))
  }

  test("q_c100 on sf0.001: monotone in τ, τ=0.5 row agrees with the q_b6 pair frame") {
    evict()
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_c100_dedup_threshold_curve")(spark, sf)
      .collect()
    val nB6 = SparkEntry.queries("q_b6_jaccard_neardup")(spark, sf).count()
    evict()
    assert(rows.length === 5)
    val pairs = rows.map(_.getLong(1))
    val docs = rows.map(_.getLong(2))
    assert(pairs.head === nB6,
      "the τ10 = 5 count IS the q_b6 verified pair count — one pair base, no fork")
    assert(pairs.zip(pairs.tail).forall { case (a, b) => a >= b },
      "Jaccard thresholds are monotone: tightening τ can only drop pairs")
    assert(docs.zip(docs.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getLong(4) === r.getLong(2) * 1000000L / r.getLong(3))
    }
  }
}
