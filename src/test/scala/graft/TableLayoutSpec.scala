package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables

/** Extends the `EventTimeLayoutSpec` regeneration pin to the other two
  * driver tables with layout exposure (round 12, VERDICT lead 7):
  * `documents` (integer width, string physical encoding) and `embeddings`
  * (element type, id width). The engine's contract is: raw columns flow
  * through at the file's own width (so Spark and the DuckDB oracle shift
  * TOGETHER under a regeneration), binary-encoded text decodes to string
  * at load (`Tables` canon), and every arithmetic site that needs 64-bit
  * or floating-point width widens IN-EXPRESSION on both engines. These
  * tests rewrite the same sf0.001 fixture under plausible re-encodings
  * and assert the affected query surface produces value-identical rows
  * (integer width excepted — compared as canonical value strings, the
  * same canonicalization the driver's hash compare applies).
  */
class TableLayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-tbllayout-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Driver-compare-style canonical row strings: every value rendered via
    * toString, so Int 5 and Long 5 compare equal but any VALUE drift fails.
    */
  private def canonRows(rows: Seq[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case null => "NULL"
      case a: Seq[_] => a.mkString("[", ",", "]")
      case v => v.toString
    }.mkString("|"))

  private def runQ(name: String, dir: String): Seq[String] = {
    val out = canonRows(SparkEntry.queries(name)(spark, dir).collect().toSeq)
    graft.core.SessionMemo.evict(spark)
    graft.core.CachedRdds.drain()
    out
  }

  test("documents plans are value-invariant across doc_id width and text encoding") {
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val tmp = Files.createTempDirectory("doclayout")
    def mk(name: String)(tf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
      val d = tmp.resolve(name).toString
      tf(base).write.parquet(s"$d/documents.parquet")
      d
    }
    // doc_id (and n_chars) written as int32 — a narrower regeneration
    val dNarrow = mk("narrow")(df => df
      .withColumn("doc_id", col("doc_id").cast(IntegerType))
      .withColumn("n_chars", col("n_chars").cast(IntegerType)))
    // text columns written WITHOUT the UTF8 annotation → load as BINARY
    val dBinary = mk("binary")(df => df
      .withColumn("text", col("text").cast(BinaryType))
      .withColumn("lang", col("lang").cast(BinaryType))
      .withColumn("source", col("source").cast(BinaryType)))

    // the fixtures must genuinely differ in loaded type, or this is vacuous
    assert(spark.read.parquet(s"$dNarrow/documents.parquet")
      .schema("doc_id").dataType == IntegerType)
    assert(spark.read.parquet(s"$dBinary/documents.parquet")
      .schema("text").dataType == BinaryType)
    // ... and the Tables canon must hand queries STRING text back
    assert(Tables(spark, dBinary, "documents").schema("text").dataType == StringType)

    // q_b5: md5 over text bytes; q_c6: length/punct/stopword arithmetic;
    // q_c15: the LCG hash — the in-expression BIGINT widening under test
    // q_c56 joined in round 15: the epoch-shuffle skey is the same LCG
    // class (its DuckDB oracle needed the CAST(doc_id AS BIGINT) every
    // other LCG oracle carries — this pins the Spark side's widening)
    for (q <- Seq("q_b5_dedup_exact", "q_c6_quality", "q_c15_stratified_sample",
        "q_c56_epoch_shuffle")) {
      val ref = runQ(q, sf)
      assert(ref == runQ(q, dNarrow), s"$q drifts under int32 doc_id")
      assert(ref == runQ(q, dBinary), s"$q drifts under binary-encoded text")
    }
  }

  test("embedding plans are value-invariant across element type and vec_id width") {
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    val tmp = Files.createTempDirectory("emblayout")
    def mk(name: String)(tf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
      val d = tmp.resolve(name).toString
      tf(base).write.parquet(s"$d/embeddings.parquet")
      d
    }
    // float32 → float64 regeneration: exact value injection, so every
    // query that widens in-expression must produce identical doubles
    val dDouble = mk("double")(df => df
      .withColumn("embedding", expr("transform(embedding, x -> CAST(x AS DOUBLE))")))
    val dNarrow = mk("narrow")(df => df
      .withColumn("vec_id", col("vec_id").cast(IntegerType)))

    assert(spark.read.parquet(s"$dDouble/embeddings.parquet")
      .schema("embedding").dataType == ArrayType(DoubleType))
    assert(spark.read.parquet(s"$dNarrow/embeddings.parquet")
      .schema("vec_id").dataType == IntegerType)

    // q_c17: per-element quantization folds; q_b7: cosine top-k through
    // the native expression (both cast elements to DOUBLE in-expression)
    for (q <- Seq("q_c17_embedding_quantize", "q_b7_cosine_topk")) {
      val ref = runQ(q, sf)
      assert(ref == runQ(q, dDouble), s"$q drifts under float64 elements")
      assert(ref == runQ(q, dNarrow), s"$q drifts under int32 vec_id")
    }
  }
}
