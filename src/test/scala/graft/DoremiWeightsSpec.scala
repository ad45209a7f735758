package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** q_c99 — DoReMi-style excess-loss mixture weights (the action on
  * q_c69's KL diagnostic).
  *
  * Main fixture (equal 20-token sources, overlapping support so the KLs
  * genuinely differ — with DISJOINT supports every equal-share source
  * collapses to KL = ln 2 and the ordering claim would be vacuous):
  *  - s_a: 10 docs "common rarea"         → within-a (½, ½)
  *  - s_b:  5 docs "common common common rareb" → within-b (¾, ¼)
  * Corpus: common 25/40, rarea 10/40, rareb 5/40. Per-term quantized
  * (D18,6) contributions by hand:
  *  - KL_a = q(½·ln 0.8) + q(½·ln 2)   = −0.111572 + 0.346574 = 0.235002
  *  - KL_b = q(¾·ln 1.2) + q(¼·ln 2)   =  0.136741 + 0.173287 = 0.310028
  * tot = 40 → share_ppm = ns (tiny-corpus denominator floor of 1);
  * wnum = 1·(1000 + kl_milli) → 1235 / 1310; sw = 2545 → w_ppm = wnum.
  * The higher-KL source is upweighted relative to its share — the
  * DoReMi direction — and every digit is pinned.
  */
class DoremiWeightsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _
  private var uniDir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-doremi-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = spark
    import s.implicits._
    dir = java.nio.file.Files.createTempDirectory("graft-doremi").toString
    val docs =
      (1 to 10).map(i => (i.toLong, "common rarea", "s_a")) ++
        (11 to 15).map(i => (i.toLong, "common common common rareb", "s_b"))
    docs.toDF("doc_id", "text", "source").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // a matching (unused) embeddings table so the fixture dir is complete
    Seq((1L, Seq(1f, 0f), 0)).toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    uniDir = java.nio.file.Files.createTempDirectory("graft-doremi-uni").toString
    val uni =
      (1 to 10).map(i => (i.toLong, "x y", "u1")) ++
        (11 to 40).map(i => (i.toLong, "x y", "u2"))
    uni.toDF("doc_id", "text", "source").coalesce(1)
      .write.mode("overwrite").parquet(s"$uniDir/documents.parquet")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    graft.core.LocalArtifacts.deleteRecursively(dir)
    graft.core.LocalArtifacts.deleteRecursively(uniDir)
  }

  private def evict(): Unit = {
    graft.core.SessionMemo.evict(spark)
    graft.core.CachedRdds.drain()
  }

  test("q_c99: hand-computed KLs, floors, and the DoReMi upweighting direction") {
    evict()
    val rows = SparkEntry.queries("q_c99_doremi_weights")(spark, dir).collect()
    evict()
    val got = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getAs[Double]("kl"), r.getAs[Long]("kl_milli"),
      r.getAs[Long]("share_ppm"), r.getAs[Long]("w_ppm"),
      r.getAs[Long]("delta_ppm"))).toSeq
    assert(got === Seq(
      ("s_a", 20L, 2L, 0.235002, 235L, 20L, 1235L, 1215L),
      ("s_b", 20L, 2L, 0.310028, 310L, 20L, 1310L, 1290L)))
    // the DoReMi direction, stated independently of the pinned digits:
    // equal shares, higher excess loss → strictly larger weight
    assert(got(1)._7 > got(0)._7)
  }

  test("q_c99: identical source distributions carry exactly zero excess loss") {
    evict()
    val rows = SparkEntry.queries("q_c99_doremi_weights")(spark, uniDir).collect()
    evict()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getAs[Double]("kl") === 0.0,
        "ln(1) = 0 exactly — no quantization residue on a matched source")
      assert(r.getAs[Long]("kl_milli") === 0L)
    }
  }

  test("q_c99 kl column is exactly q_c69's (the extracted rung did not fork)") {
    evict()
    val sf = "/root/testdata/sf0.001"
    val kl69 = SparkEntry.queries("q_c69_source_kl")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("kl")).toMap
    val kl99 = SparkEntry.queries("q_c99_doremi_weights")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("kl")).toMap
    evict()
    assert(kl69.nonEmpty && kl69 === kl99)
  }

  test("q_c99 on sf0.001: weights positive, floors coherent, no negative excess") {
    evict()
    val rows = SparkEntry.queries("q_c99_doremi_weights")(spark,
      "/root/testdata/sf0.001").collect()
    evict()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("kl_milli") >= 0L)
      assert(r.getAs[Long]("share_ppm") > 0L)
      assert(r.getAs[Long]("w_ppm") > 0L)
      assert(r.getAs[Long]("delta_ppm") ===
        r.getAs[Long]("w_ppm") - r.getAs[Long]("share_ppm"))
    }
  }
}
