package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** q_c39/q_c40 unigram-LM tokenizer: the whole training pipeline (seed →
  * Viterbi-EM rounds → prune) re-implemented independently in plain Scala
  * and checked for EXACT equality of the final model (pieces, counts,
  * quantized log-probs) on the sf0.001 corpus, plus per-document encoding
  * counts and the non-vacuity that makes a tokenizer a tokenizer
  * (multi-char pieces survive and compress the corpus).
  */
class UnigramTrainerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  // trainer defaults — keep in sync with UnigramTrainer.train's signature
  private val MaxLen = 4
  private val SeedMulti = 150
  private val EmRounds = 3
  private val MultiKeep = 60
  private val UnkLogp = -100.0

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-unigram-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def q6micros(d: Double): Long =
    java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  private def words(text: String): Seq[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq

  private def logps(counts: Seq[(String, Long)]): Seq[(String, Long, Long)] = {
    val total = counts.map(_._2).sum.toDouble
    val v = counts.size.toDouble
    counts.map { case (p, c) =>
      (p, c, q6micros(math.log((c + 1).toDouble / (total + v))))
    }
  }

  private def viterbi(word: String, lp: Map[String, Double], maxLen: Int): Seq[String] = {
    val n = word.length
    if (n == 0) return Seq.empty
    val dp = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = new Array[Int](n + 1)
    dp(0) = 0.0
    for (i <- 1 to n) {
      back(i) = i - 1
      for (j <- math.max(0, i - maxLen) until i) {
        val piece = word.substring(j, i)
        val p = lp.get(piece) match {
          case Some(x) => x
          case None => if (i - j == 1) UnkLogp else Double.NegativeInfinity
        }
        if (p != Double.NegativeInfinity) {
          val cand = dp(j) + p
          if (cand > dp(i)) { dp(i) = cand; back(i) = j }
        }
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var k = n
    while (k > 0) { out.prepend(word.substring(back(k), k)); k = back(k) }
    out.toSeq
  }

  /** Full independent training run; returns the final model rows. */
  private def refTrain(texts: Seq[String]): Seq[(String, Long, Long)] = {
    val wf = texts.flatMap(words).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    // seed: all substrings of length 1..MaxLen, freq-weighted
    val subCnt = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for ((w, f) <- wf; i <- 0 until w.length;
         j <- (i + 1) to math.min(i + MaxLen, w.length))
      subCnt(w.substring(i, j)) += f
    val singles = subCnt.filter(_._1.length == 1).toSeq.sortBy(_._1)
    val multi = subCnt.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(SeedMulti)
    var rows = logps((singles ++ multi).sortBy { case (p, c) => (-c, p) })
    for (_ <- 1 to EmRounds) {
      val lp = rows.map(r => r._1 -> r._3 / 1e6).toMap
      val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((w, f) <- wf; piece <- viterbi(w, lp, MaxLen)) counts(piece) += f
      rows = logps(rows.map(r => (r._1, counts(r._1)))
        .sortBy { case (p, c) => (-c, p) })
    }
    val (sgl, mlt) = rows.partition(_._1.length == 1)
    logps((sgl ++ mlt.sortBy(r => (-r._2, r._1)).take(MultiKeep))
      .map(r => (r._1, r._2)).sortBy { case (p, c) => (-c, p) })
  }

  private def corpus(): Seq[(Long, String)] =
    graft.core.Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  test("Viterbi DP equals brute-force enumeration on short words") {
    // independent of the mirror reference: enumerate EVERY segmentation
    // of every ≤ 7-char word over a small random-ish model and assert the
    // DP's score is the max and its tie-break (earliest split = longest
    // piece) matches the enumeration's deterministic winner
    val pieces = Seq("a", "b", "c", "ab", "bc", "abc", "aab", "ca", "cab")
    val lp = pieces.zipWithIndex.map { case (p, i) =>
      p -> (-(1.0 + (i * 7 % 5))) // distinct-ish, some exact ties
    }.toMap
    val model = graft.functions.UnigramModel(
      pieces.toArray, pieces.map(p => math.round(lp(p) * 1e6)).toArray)
    def segs(w: String): Seq[Seq[String]] =
      if (w.isEmpty) Seq(Seq.empty)
      else (1 to math.min(4, w.length)).flatMap { m =>
        val h = w.substring(0, m)
        val ok = lp.contains(h) || m == 1
        if (!ok) Seq.empty
        else segs(w.substring(m)).map(h +: _)
      }
    def score(s: Seq[String]): Double =
      s.map(p => lp.getOrElse(p, if (p.length == 1) -100.0 else Double.NegativeInfinity)).sum
    val words = for {
      n <- 1 to 7
      w <- Seq.fill(40)(scala.util.Random.javaRandomToRandom(
        new java.util.Random(n * 1000L)).alphanumeric.take(n).mkString)
    } yield w.toLowerCase.replaceAll("[^abc]", "a")
    for (w <- words.distinct) {
      val got = model.segment(w)
      val all = segs(w)
      val best = all.map(score).max
      assert(score(got.toSeq) == best,
        s"'$w': DP score ${score(got.toSeq)} != brute-force max $best (dp=${got.mkString("+")})")
    }
  }

  test("q_c39: trained model identical to the independent reference") {
    val docs = corpus()
    val ref = refTrain(docs.map(_._2))
    graft.core.SessionMemo.evict(spark, "unigram_vocab")
    val got = SparkEntry.queries("q_c39_unigram_train")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == ref.length, s"vocab size ${got.length} vs ref ${ref.length}")
    for (((rank, piece, cnt, logp), (rp, rc, rm)) <- got.zip(ref)) {
      val refLogp = new java.math.BigDecimal(
        java.math.BigInteger.valueOf(rm), 6).doubleValue
      assert(piece == rp && cnt == rc && logp == refLogp,
        s"rank $rank: got ($piece,$cnt,$logp) ref ($rp,$rc,$refLogp)")
    }
    // non-vacuity: EM must keep real multi-char pieces in play
    assert(got.count(_._2.length >= 2) > 20)
    assert(got.filter(_._2.length >= 2).map(_._3).sum > 0L)
  }

  test("q_c40: per-document Viterbi counts match the reference encoder") {
    val docs = corpus()
    val ref = refTrain(docs.map(_._2))
    val lp = ref.map(r => r._1 -> r._3 / 1e6).toMap
    val got = SparkEntry.queries("q_c40_unigram_encode")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.length == docs.length)
    val byId = docs.toMap
    var compressed = 0
    for ((id, nWords, nChars, nTok) <- got) {
      val ws = words(byId(id))
      val refTok = ws.map(w => viterbi(w, lp, MaxLen).length.toLong).sum
      assert(nWords == ws.length.toLong && nChars == ws.map(_.length.toLong).sum
        && nTok == refTok,
        s"doc $id: got ($nWords,$nChars,$nTok) ref (${ws.length},${ws.map(_.length).sum},$refTok)")
      if (nTok < nChars) compressed += 1
    }
    // the tokenizer must actually compress characters into pieces
    assert(compressed > docs.length / 2)
  }
}
