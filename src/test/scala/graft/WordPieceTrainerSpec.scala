package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** q_c42/q_c43 WordPiece: the likelihood-scored merge trajectory and the
  * greedy longest-match encoder re-implemented independently in plain
  * Scala and checked for exact equality (scores are doubles computed by
  * identical IEEE operations on exact integer counts) on the sf0.001
  * corpus.
  */
class WordPieceTrainerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"
  private val NMerges = 15

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-wordpiece-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def words(text: String): Seq[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq

  private def initSyms(w: String): Vector[String] =
    w.zipWithIndex.map { case (c, i) =>
      if (i == 0) c.toString else "##" + c
    }.toVector

  /** (merges, alphabet) mirror of WordPieceTrainer.trainUncached. */
  private def refTrain(texts: Seq[String])
      : (Seq[(Int, String, String, String, Double)], Seq[String]) = {
    val wf = texts.flatMap(words).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    var syms: Map[String, Vector[String]] = wf.keys.map(w => w -> initSyms(w)).toMap
    val alphabet = syms.values.flatten.toSeq.distinct.sorted
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Double)]
    var k = 1
    var stop = false
    while (k <= NMerges && !stop) {
      val uc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      val pc = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      for ((w, f) <- wf) {
        val ss = syms(w)
        ss.foreach(s => uc(s) += f)
        for (i <- 0 until ss.length - 1) pc((ss(i), ss(i + 1))) += f
      }
      if (pc.isEmpty) stop = true
      else {
        val scored = pc.toSeq.map { case ((l, r), c) =>
          (l, r, c.toDouble / (uc(l).toDouble * uc(r).toDouble))
        }
        val (l, r, score) = scored.minBy { case (l, r, s) => (-s, l, r) }(
          Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.String, Ordering.String))
        val merged = l + r.stripPrefix("##")
        merges += ((k, l, r, merged, score))
        syms = syms.map { case (w, ss) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < ss.length) {
            if (i + 1 < ss.length && ss(i) == l && ss(i + 1) == r) {
              out += merged; i += 2
            } else { out += ss(i); i += 1 }
          }
          w -> out.result()
        }
        k += 1
      }
    }
    (merges.toSeq, alphabet)
  }

  private def refCount(word: String, vocab: Set[String], maxBody: Int): Long = {
    var i = 0
    var cnt = 0L
    val n = word.length
    if (n == 0) return 0L
    while (i < n) {
      val prefix = if (i == 0) "" else "##"
      var m = math.min(maxBody, n - i)
      var adv = 0
      while (adv == 0 && m >= 1) {
        if (vocab.contains(prefix + word.substring(i, i + m))) adv = m else m -= 1
      }
      if (adv == 0) return 1L // BERT whole-word [UNK]
      cnt += 1L
      i += adv
    }
    cnt
  }

  private def corpus(): Seq[(Long, String)] =
    graft.core.Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  test("encoder maps a word with any unmatchable position to ONE [UNK] token") {
    // out-of-fixture case (the corpus alphabet always covers itself, so
    // the mirror reference can't exercise it): BERT's WordpieceTokenizer
    // replaces the WHOLE word, it does not skip characters
    val enc = graft.functions.WordPieceCountTokens(
      org.apache.spark.sql.catalyst.expressions.Literal("x"),
      Seq("a", "b", "##a", "##b", "ab"))
    assert(enc.countWord("ab") == 1L)    // one matched piece
    assert(enc.countWord("aba") == 2L)   // ab + ##a
    assert(enc.countWord("abz") == 1L)   // z unmatchable -> whole word UNK
    assert(enc.countWord("zab") == 1L)   // unmatchable at word start
    assert(enc.countWord("") == 0L)
  }

  test("q_c42: merge trajectory identical to the independent reference") {
    val docs = corpus()
    val (ref, _) = refTrain(docs.map(_._2))
    graft.core.SessionMemo.evict(spark, "wordpiece_vocab")
    val got = SparkEntry.queries("q_c42_wordpiece_train")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getDouble(4)))
    assert(got.length == ref.length, s"${got.length} merges vs ref ${ref.length}")
    for ((g, r) <- got.zip(ref)) assert(g == r, s"merge ${g._1}: got $g ref $r")
    // the ## convention must be live: some learned merge consumes a
    // continuation piece, and scores are likelihood gains, not counts
    assert(got.exists(_._3.startsWith("##")))
    assert(got.forall(m => m._5 > 0.0 && m._5 <= 1.0))
  }

  test("q_c43: greedy longest-match counts equal the reference encoder") {
    val docs = corpus()
    val (refMerges, alphabet) = refTrain(docs.map(_._2))
    val vocab = (alphabet ++ refMerges.map(_._4)).distinct.toSet
    val maxBody = vocab.map(v => if (v.startsWith("##")) v.length - 2 else v.length).max
    val got = SparkEntry.queries("q_c43_wordpiece_encode")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == docs.length)
    val byId = docs.toMap
    for ((id, nWords, nChars, nTok) <- got) {
      val ws = words(byId(id))
      val refTok = ws.map(w => refCount(w, vocab, maxBody)).sum
      assert(nWords == ws.length.toLong && nChars == ws.map(_.length.toLong).sum
        && nTok == refTok, s"doc $id: ($nWords,$nChars,$nTok) vs ref tok $refTok")
    }
    // the learned pieces must compress: tokens strictly fewer than chars
    // for most documents
    assert(got.count(r => r._4 < r._3) > docs.length / 2)
  }
}
