package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `token_rep_stats(text)` (optimization r19) must reproduce q_c14's five
  * integers EXACTLY as the relational explode → groupBy pipelines compute
  * them — the SQL twin and the DuckDB oracle keep that form, so any
  * divergence is a declared-result change. Pinned per document on edge
  * cases (empty text, leading/trailing/repeated spaces — empty tokens are
  * REAL tokens under split(lower(text), ' ') with limit -1 — unicode,
  * single-token docs where the bigram side must be NULL) plus randomized
  * fuzz rows.
  */
class TokenRepStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tokenrepstats-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.TokenRepStats.register(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def texts: Seq[(Long, String)] = {
    val edge = Seq(
      "", " ", "  ", "one", "a a a a", "a b a b a", "A mixed CASE text a",
      "trailing space ", " leading space", "a  doubled  space run",
      "the the the quick quick fox", "héllo HÉLLO wörld", "你好 世界 你好",
      "x y x y x y z z z z")
    val rnd = new scala.util.Random(99)
    val words = Vector("the", "cat", "sat", "on", "a", "mat", "dog", "ran", "", "é你")
    val fuzz = (0 until 150).map { _ =>
      val n = rnd.nextInt(40)
      (0 until n).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
    }
    (edge ++ fuzz).zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  test("token_rep_stats ≡ the relational explode/groupBy pipelines, per document") {
    val s = spark
    import s.implicits._
    val docs = texts.toDF("doc_id", "text")
    val fast = docs
      .select(col("doc_id"), expr("token_rep_stats(text)").as("st"))
      .select(col("doc_id"), col("st.n_tok"), col("st.n_distinct"),
        col("st.top_tok"), col("st.n_big"), col("st.top_big"))
    val tc = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val t = tc.groupBy(col("doc_id")).agg(
      sum(col("c")).as("n_tok"),
      count(lit(1)).as("n_distinct"),
      max(col("c")).as("top_tok"))
    val bc = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ts) - 2), k -> concat(ts[k], ' ', ts[k+1]))"))
        .as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("c"))
    val b = bc.groupBy(col("doc_id")).agg(
      sum(col("c")).as("n_big"), max(col("c")).as("top_big"))
    val slow = t.join(b, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"), col("n_distinct"),
        col("top_tok"), col("n_big"), col("top_big"))
    val f = fast.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val sl = slow.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(f.keySet == sl.keySet)
    for ((k, v) <- sl)
      assert(f(k) == v, s"doc $k: fast=${f(k)} slow=$v text='${texts(k.toInt)._2}'")
  }

  test("single-token and empty docs: bigram side NULL, n_tok counts empty tokens") {
    val s = spark
    import s.implicits._
    val r = Seq((1L, ""), (2L, "solo"), (3L, " "))
      .toDF("doc_id", "text")
      .select(col("doc_id"), expr("token_rep_stats(text)").as("st"))
      .orderBy(col("doc_id"))
      .collect()
    // "" -> [""]: 1 token, bigrams NULL
    assert(r(0).getStruct(1).getLong(0) == 1L && r(0).getStruct(1).isNullAt(3))
    assert(r(1).getStruct(1).getLong(0) == 1L && r(1).getStruct(1).isNullAt(4))
    // " " -> ["", ""]: 2 equal empty tokens, 1 bigram
    val st3 = r(2).getStruct(1)
    assert(st3.getLong(0) == 2L && st3.getLong(1) == 1L && st3.getLong(2) == 2L
      && st3.getLong(3) == 1L && st3.getLong(4) == 1L)
  }

  test("bigram table capacity fails with a clear error before it overflows Int") {
    // both per-row kernels size their open-addressed table through this
    // helper; 2^29 bigrams would overflow `capL.toInt` to a negative size
    import graft.functions.CharBigramStats.tableCapacity
    assert(tableCapacity("token_rep_stats", 1) === 8)
    assert(tableCapacity("token_rep_stats", 3) === 16)
    assert(tableCapacity("token_rep_stats", (1 << 28) - 1) === (1 << 30))
    for (kernel <- Seq("token_rep_stats", "char_bigram_stats"); n <- Seq(1 << 28, 1 << 29, Int.MaxValue)) {
      val e = intercept[IllegalArgumentException](tableCapacity(kernel, n))
      assert(e.getMessage.startsWith(s"$kernel: document with $n bigrams exceeds"),
        e.getMessage)
    }
  }
}
