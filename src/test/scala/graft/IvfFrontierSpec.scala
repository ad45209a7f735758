package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** q_c132 — the IVF nprobe frontier (q_c120's calibration verb for the
  * second approximate family): recall@5 against exact brute force and
  * scanned-rows permille per nprobe, off the stored compacted index.
  * Deterministic end-to-end (Lloyd training, int8 packing and the
  * search tie-breaks are all fixed), so the gates are structural:
  * recall must be monotone in fan-out, scanned rows must grow with
  * fan-out, and the accounting must stay inside the corpus bound.
  */
class IvfFrontierSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-ivffrontier-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rows() =
    SparkEntry.queries("q_c132_ivf_nprobe_frontier")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq

  test("frontier: recall monotone in nprobe, scanned rows strictly growing, bounds hold") {
    val out = rows()
    assert(out.size >= 4, s"grid must have at least 4 distinct points: $out")
    assert(out.map(_._1) === out.map(_._1).sorted, "rows ordered by nprobe")
    // recall@5 never decreases as the probe fan-out grows (a superset of
    // probed cells can only add stage-1 candidates under the same ranks)
    out.sliding(2).foreach { case Seq(a, b) =>
      assert(b._5 >= a._5, s"recall must be monotone: $a -> $b")
      assert(b._6 > a._6, s"scanned rows must grow with fan-out: $a -> $b")
    }
    // endpoint floors measured on the fixture (deterministic):
    // k/2 fan-out reaches >= 0.9 recall; the 1-probe point scans < 5 %
    assert(out.last._5 >= 900L, s"k/2 recall floor: ${out.last}")
    assert(out.head._7 < 50L, s"1-probe scan ceiling: ${out.head}")
    // accounting stays inside the corpus bound and truth depth
    for (r <- out) {
      assert(r._4 <= r._3, s"hits cannot exceed truth rows: $r")
      assert(r._7 <= 1000L, s"scanned fraction is a permille: $r")
      assert(r._2 > 0 && r._3 == r._2 * 5, s"truth must be 5 rows per query: $r")
    }
  }

  test("frontier is deterministic run-to-run") {
    assert(rows() === rows())
  }

  test("every grid point == an independent per-point search") {
    // pins each frontier row to the registered search recomputed from
    // scratch at that fan-out, plus a driver-side recall and scanned-rows
    // count: the frontier runs every grid point in one keyed pass (the
    // probe list at fan-out np is the first np cells of the widest one),
    // and that plan must keep these equalities
    import org.apache.spark.sql.functions._
    import graft.operators.SimilarityQueries
    val out = rows()
    val path = SimilarityQueries.int8CompactedIndex(
      spark, SimilarityQueries.int8SegmentsIndex(spark, sf))
    val (fn, _, _) = SimilarityQueries.frozenQuantizer(spark, path)
    graft.functions.CosineSimilarity.register(spark)
    val e = graft.core.CachedRdds.registerDf(
      SimilarityQueries.ivfCorpus(spark, sf)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val codes = spark.read.parquet(s"$path/codes")
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id"))
    val truth = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score",
        round(expr("CAST(cosine_similarity(v, qv) AS DECIMAL(18,6))"), 4))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id"))
      .cache()
    val nTrue = truth.count()
    // driver-side scanned-rows accounting: cell populations and each
    // query's probe list collected, summed in plain Scala
    val cellSize = codes.groupBy(col("cell")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nCorpus = codes.count()
    for (row <- out) {
      val np = row._1.toInt
      val res = SimilarityQueries.ivfSearchCodes(spark, codes, e, fn, np)
        .select(col("query_id"), col("vec_id"))
      val nHit = truth.join(res, Seq("query_id", "vec_id"), "left_semi").count()
      val probed = q.select(expr(s"$fn(qv, $np)")).collect()
        .map(_.getSeq[Int](0).filter(cellSize.contains))
      val scannedRows = probed.map(_.map(cellSize).sum).sum
      val nQueries = probed.count(_.nonEmpty).toLong
      assert(row === ((np.toLong, nQueries, nTrue, nHit, nHit * 1000 / nTrue,
        scannedRows, scannedRows * 1000 / (nQueries * nCorpus))),
        s"frontier row at nprobe=$np must equal the independent per-point recomputation")
    }
    truth.unpersist()
    graft.core.CachedRdds.drain()
  }

  test("narrow rerank windows (the cluster profile) return the same frontier rows") {
    val fat = rows()
    spark.conf.set("spark.graft.rerank.narrowWindows", "true")
    try assert(rows() === fat, "the window layout must never change the frontier")
    finally spark.conf.unset("spark.graft.rerank.narrowWindows")
    graft.core.CachedRdds.drain()
  }
}
