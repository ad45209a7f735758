package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The codegen'd poly-hash kernels (optimization r19) must be
  * VALUE-IDENTICAL to the relational HOF spellings they replace — the SQL
  * twins and every DuckDB oracle keep the HOF form, so any divergence is
  * a declared-result change. Pinned here expression-by-expression on
  * adversarial inputs (empty strings, repeated/leading/trailing spaces,
  * non-ASCII code points incl. beyond-BMP, NULL tokens) plus randomized
  * fuzz rows:
  *
  *  - poly_hash(s)      ≡ aggregate(split(s,''), 0L, (acc,ch) ->
  *                          (acc*31 + ascii(ch)) % 1000000007L)
  *  - gram_hashes(ts,3) ≡ transform(sequence(0, size(ts)-3), i ->
  *                          ^^ of concat_ws(' ', ts[i], ts[i+1], ts[i+2]))
  *  - sliding_min(hs,w) ≡ when(size >= w, transform(sequence(0, size-w),
  *                          p -> array_min(slice(hs, p+1, w))))
  *                          .otherwise(array(array_min(hs)))
  */
class PolyHashSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-polyhash-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.PolyHash.register(spark)
    graft.functions.GramHashes.register(spark)
    graft.functions.SlidingMin.register(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val hofHash =
    "aggregate(split(s, ''), 0L, (acc, ch) -> (acc * 31 + ascii(ch)) % 1000000007L)"

  private def strings: Seq[String] = {
    val edge = Seq(
      "", " ", "  ", "a", "ab", "hello world", "a  b   c",
      " leading", "trailing ", "the quick brown fox jumps over the lazy dog",
      "héllo wörld", // Latin-1 supplement (2-byte UTF-8)
      "你好世界", // CJK (3-byte UTF-8)
      "emoji 😀 pair", // beyond-BMP (surrogate pair, 4-byte UTF-8)
      "mixed é你😀 tail",
      "numbers 0123456789 and punct .,;:!?")
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdefghijklmnopqrstuvwxyz 0123456789éö你"
    val fuzz = (0 until 200).map { _ =>
      val n = rnd.nextInt(80)
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    edge ++ fuzz
  }

  test("poly_hash ≡ the HOF char fold, edge + fuzz strings") {
    val s = spark
    import s.implicits._
    val df = strings.toDF("s")
      .select(col("s"), expr("poly_hash(s)").as("fast"), expr(hofHash).as("slow"))
    val bad = df.filter(not(col("fast") <=> col("slow"))).collect()
    assert(bad.isEmpty, s"poly_hash diverged on: ${bad.take(5).mkString(", ")}")
  }

  test("poly_hash of NULL is NULL") {
    val r = spark.sql("SELECT poly_hash(CAST(NULL AS STRING)) AS h").collect()
    assert(r.head.isNullAt(0))
  }

  test("gram_hashes(ts, 3) ≡ transform+concat_ws+HOF fold, incl. NULL and empty tokens") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val words = Vector("the", "cat", "", "séat", "on", "a", "mat", "😀", "x")
    val arrays: Seq[Seq[String]] =
      Seq(
        Seq("a", "b", "c"),
        Seq("a", "", "c", "d"),
        Seq("", "", ""),
        Seq("one", null, "three", "four"),
        Seq(null, null, null, "x"),
        Seq("a", "b", "c", "d", "e", "f", "g")) ++
        (0 until 100).map { _ =>
          val n = 3 + rnd.nextInt(20)
          (0 until n).map(_ =>
            if (rnd.nextInt(12) == 0) null else words(rnd.nextInt(words.length)))
        }
    val df = arrays.toDF("ts")
      .filter(size(col("ts")) >= 3)
      .select(
        expr("gram_hashes(ts, 3)").as("fast"),
        expr(
          "transform(sequence(0, size(ts) - 3), i -> " +
            "aggregate(split(concat_ws(' ', ts[i], ts[i+1], ts[i+2]), ''), 0L," +
            " (acc, ch) -> (acc * 31 + ascii(ch)) % 1000000007L))").as("slow"))
    val bad = df.filter(not(col("fast") <=> col("slow"))).collect()
    assert(bad.isEmpty, s"gram_hashes diverged on: ${bad.take(5).mkString(", ")}")
  }

  test("sliding_min ≡ the when/otherwise slice-min HOF, w ∈ {1,2,4,8}") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val arrays: Seq[Seq[Long]] =
      Seq(Seq(5L), Seq(3L, 3L), Seq(9L, 1L, 9L, 1L)) ++
        (0 until 100).map { _ =>
          val n = 1 + rnd.nextInt(30)
          (0 until n).map(_ => rnd.nextLong(1000000L)).toSeq
        }
    for (w <- Seq(1, 2, 4, 8)) {
      val df = arrays.toDF("hs")
        .select(
          expr(s"sliding_min(hs, $w)").as("fast"),
          when(size(col("hs")) >= w, expr(
            s"transform(sequence(0, size(hs) - $w), p -> array_min(slice(hs, p + 1, $w)))"))
            .otherwise(array(array_min(col("hs")))).as("slow"))
      val bad = df.filter(not(col("fast") <=> col("slow"))).collect()
      assert(bad.isEmpty, s"sliding_min(w=$w) diverged: ${bad.take(5).mkString(", ")}")
    }
  }

  test("gram_hashes matches hashing the materialized shingle strings (min-invariance witness)") {
    // the minhashSignatures rewrite relies on min over the gram-hash
    // MULTISET equaling min over the distinct-shingle hash SET — witness
    // on a duplicate-rich array
    val s = spark
    import s.implicits._
    val ts = Seq(Seq("a", "b", "a", "b", "a", "b", "a"))
    val multiset = ts.toDF("ts")
      .select(explode(expr("gram_hashes(ts, 3)")).as("th"))
      .groupBy().agg(min(expr("(487198041 * th + 259200101) % 1000000007")))
      .collect().head.getLong(0)
    val distinctSet = ts.toDF("ts")
      .select(explode(array_distinct(expr(
        "transform(sequence(0, size(ts) - 3), i -> " +
          "aggregate(split(concat_ws(' ', ts[i], ts[i+1], ts[i+2]), ''), 0L," +
          " (acc, ch) -> (acc * 31 + ascii(ch)) % 1000000007L))"))).as("th"))
      .groupBy().agg(min(expr("(487198041 * th + 259200101) % 1000000007")))
      .collect().head.getLong(0)
    assert(multiset == distinctSet)
  }

  test("poly_hash takes the decode path on malformed UTF-8 (matches the HOF)") {
    // lone continuation/invalid lead bytes: every byte counts as one
    // character, so numBytes == numChars, yet the bytes are not code points
    val hexes = Seq("618062", "80", "FF", "61FE62FF63", "C0AF", "68E9C3A9", "F09F")
    val s = spark
    import s.implicits._
    val df = hexes.toDF("hx")
      .select(col("hx"), expr("CAST(unhex(hx) AS STRING)").as("s"))
      .select(col("hx"), expr("poly_hash(s)").as("fast"), expr(hofHash).as("slow"))
    val bad = df.filter(not(col("fast") <=> col("slow"))).collect()
    assert(bad.isEmpty, s"poly_hash diverged on malformed UTF-8: ${bad.mkString(", ")}")
  }

  test("sliding_min: empty input gives the HOF's [NULL]; NULL-element input is rejected") {
    val s = spark
    import s.implicits._
    for (w <- Seq(1, 3)) {
      val df = Seq(Seq.empty[Long], Seq(4L, 2L)).toDF("hs")
        .select(
          size(col("hs")).as("n"),
          expr(s"sliding_min(hs, $w)").as("fast"),
          when(size(col("hs")) >= w, expr(
            s"transform(sequence(0, size(hs) - $w), p -> array_min(slice(hs, p + 1, $w)))"))
            .otherwise(array(array_min(col("hs")))).as("slow"))
      val bad = df.filter(not(col("fast") <=> col("slow"))).collect()
      assert(bad.isEmpty, s"sliding_min(w=$w) diverged: ${bad.mkString(", ")}")
      val empty = df.filter(col("n") === 0).select(col("fast")).head().getSeq[Any](0)
      assert(empty == Seq(null), s"empty input must give [NULL], got $empty")
    }
    assert(spark.sql("SELECT sliding_min(array(1L, 2L), 1)").schema.head.dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, containsNull = true))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT sliding_min(array(1L, CAST(NULL AS BIGINT)), 2)"))
    assert(e.getMessage.contains("without NULL elements"), e.getMessage)
  }
}
