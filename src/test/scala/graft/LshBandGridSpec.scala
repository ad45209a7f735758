package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupQueries

/** q_c120's keyed grid at its edges: the DataFrame plan
  * ([[DedupQueries.lshBandGrid]]) runs every (bands, rows) point in one
  * pass and left-joins the grid frame, so a point with no candidate
  * pairs, or a run with no verified pairs at all, must still give every
  * point the row the per-point Spark-SQL twin ([[DedupQueries.lshGridSqlTail]])
  * gives it — 0 counts and NULL recalls included.
  */
class LshBandGridSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-lshbandgrid-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Docs 1 and 2 agree on mh0..mh2 only, so every banding whose first
    * band stays inside that prefix pairs them and the full-signature
    * (1, 6) banding finds no candidate at all; doc 3 shares nothing.
    */
  private def sig(): DataFrame = {
    val s = spark
    import s.implicits._
    Seq((1L, 11L, 12L, 13L, 14L, 15L, 16L),
      (2L, 11L, 12L, 13L, 24L, 25L, 26L),
      (3L, 31L, 32L, 33L, 34L, 35L, 36L))
      .toDF("doc_id", "mh0", "mh1", "mh2", "mh3", "mh4", "mh5")
  }

  private def pairs(rows: Seq[(Long, Long, Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_a", "doc_b", "shared", "uni")
  }

  /** (keyed DataFrame rows, per-point SQL twin rows) over the same inputs. */
  private def both(jp: DataFrame): (Seq[Row], Seq[Row]) = {
    val sg = sig()
    sg.createOrReplaceTempView("sig")
    jp.createOrReplaceTempView("jp")
    val keyed = DedupQueries.lshBandGrid(sg, jp).collect().toSeq
    val twin = spark.sql(s"WITH ${DedupQueries.lshGridSqlTail}").collect().toSeq
    (keyed, twin)
  }

  private val gridKeys =
    DedupQueries.lshGrid.map { case (b, r) => Seq(b.toLong, r.toLong) }

  test("a banding with no candidate pairs keeps its row, equal to the SQL twin") {
    val (keyed, twin) = both(pairs(Seq((1L, 2L, 7L, 9L), (1L, 3L, 5L, 10L))))
    assert(keyed === twin)
    assert(keyed.map(r => Seq(r.getLong(0), r.getLong(1))) === gridKeys)
    val full = keyed.find(r => r.getLong(0) == 1L && r.getLong(1) == 6L).get
    assert(full.getAs[Long]("n_candidates") === 0L)
    assert(full.getAs[Long]("n_true") === 2L && full.getAs[Long]("n_detected") === 0L)
    val shipped = keyed.find(r => r.getLong(0) == 3L && r.getLong(1) == 2L).get
    assert(shipped.getAs[Long]("n_candidates") === 1L)
    assert(shipped.getAs[Long]("n_detected") === 1L)
  }

  test("no verified pairs: every point keeps its row with NULL recalls, as the twin") {
    val (keyed, twin) = both(pairs(Nil))
    assert(keyed === twin)
    assert(keyed.map(r => Seq(r.getLong(0), r.getLong(1))) === gridKeys)
    keyed.foreach { r =>
      assert(r.getAs[Long]("n_true") === 0L)
      assert(r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6), s"NULL sums and recalls: $r")
    }
  }
}
