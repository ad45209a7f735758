package graft.operators

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed WordPiece vocabulary induction (Schuster & Nakajima 2012;
  * the BERT tokenizer) — the third public tokenizer-training family next
  * to BPE (q_c33, frequency-scored merges) and unigram-LM (q_c39,
  * Viterbi-EM): WordPiece is merge-based like BPE but scores each
  * candidate pair by LIKELIHOOD GAIN, score = count(l,r) /
  * (count(l)·count(r)) — merging the pair that most increases the corpus
  * likelihood under a unigram model, not the most frequent one — and
  * marks word-internal continuation symbols with the `##` prefix.
  *
  * Distributed shape per round (the q_c33 discipline — driver holds MODEL
  * state only): ONE action computes both vocab-sized aggregations (unit
  * counts and adjacent-pair counts over the word-frequency table), joins
  * them broadcast, and collects the 1-row argmax (score DESC, then
  * (l, r) — ties pinned); the greedy merge application is the shared
  * [[BpeTrainer.applyMerge]] fold with the continuation-stripped merged
  * form. The corpus is touched exactly once; training is
  * vocabulary-bounded like its siblings.
  *
  * Inference is the published asymmetry: BERT encodes by greedy
  * longest-match against the FINAL vocabulary (continuation positions
  * probe `##`-pieces), not by merge replay — see
  * [[graft.functions.WordPieceCountTokens]]. WordPieceTrainerSpec proves
  * the full merge trajectory and the encoder identical to an independent
  * plain-Scala reference.
  */
object WordPieceTrainer {

  final case class WpMerge(rank: Int, left: String, right: String,
                           merged: String, score: Double)

  /** Word symbols with the ## continuation convention: first char plain,
    * every later char `##`-prefixed.
    */
  private val symInitExpr =
    "transform(sequence(1, length(word)), i -> " +
      "IF(i = 1, substring(word, 1, 1), concat('##', substring(word, i, 1))))"

  /** Learn `nMerges` merges + the initial alphabet (a SessionMemo value
    * of kind `wordpiece_vocab` per (dir, nMerges) and corpus snapshot).
    * Returns (merges, alphabet).
    */
  def train(s: SparkSession, d: String, nMerges: Int): (Seq[WpMerge], Seq[String]) =
    graft.core.SessionMemo.value(
      s, "wordpiece_vocab", (d, nMerges), Seq(s"$d/documents.parquet"))(
      trainUncached(s, d, nMerges))

  private def trainUncached(s: SparkSession, d: String,
      nMerges: Int): (Seq[WpMerge], Seq[String]) = {
    val aqeWas = s.conf.get("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      var syms = Tables(s, d, "documents")
        .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("wf"))
        .select(col("wf"), expr(symInitExpr).as("syms"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.core.CachedRdds.registerDf(syms)

      // initial alphabet (vocab-sized distinct, one small job)
      val alphabet = syms
        .select(explode(col("syms")).as("sym")).distinct()
        .orderBy(col("sym")).collect().map(_.getString(0)).toSeq

      val merges = scala.collection.mutable.ArrayBuffer.empty[WpMerge]
      var prevSyms: Option[DataFrame] = None
      var k = 1
      var done = false
      while (k <= nMerges && !done) {
        val uc = syms
          .select(col("wf"), explode(col("syms")).as("sym"))
          .groupBy(col("sym")).agg(sum(col("wf")).as("uc"))
        val pairs = syms
          .filter(size(col("syms")) >= 2)
          .select(col("wf"), explode(expr(
            "transform(sequence(1, size(syms) - 1)," +
              " i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
            .as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("wf")).as("cnt"))
        // plain shuffle joins (vocab-sized both sides; an A/B measured
        // broadcast hints changing neither the 36-job cold count — the
        // ~2.4 jobs/round are executeTake's incremental partition scans
        // on the limit(1), which reuse the round's shuffle outputs — nor
        // the wall, so the hint-free declarative form stays)
        val top = pairs
          .join(uc.select(col("sym").as("l"), col("uc").as("ucl")), Seq("l"))
          .join(uc.select(col("sym").as("r"), col("uc").as("ucr")), Seq("r"))
          .select(col("l"), col("r"), col("cnt"),
            (col("cnt").cast("double") /
              (col("ucl").cast("double") * col("ucr").cast("double"))).as("score"))
          .orderBy(col("score").desc, col("l"), col("r"))
          .limit(1)
          .collect()
        prevSyms.foreach(_.unpersist(false))
        prevSyms = None
        if (top.isEmpty) done = true
        else {
          val (x, y, score) = (top(0).getAs[String]("l"), top(0).getAs[String]("r"),
            top(0).getAs[Double]("score"))
          val merged = x + y.stripPrefix("##")
          merges += WpMerge(k, x, y, merged, score)
          val next = syms
            .select(col("wf"), BpeTrainer.applyMerge(col("syms"), x, y, merged).as("syms"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          graft.core.CachedRdds.registerDf(next)
          prevSyms = Some(syms)
          syms = next
          k += 1
        }
      }
      (merges.toSeq, alphabet)
    } finally s.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  /** The final WordPiece vocabulary: alphabet + merged pieces. */
  def vocab(s: SparkSession, d: String, nMerges: Int): Seq[String] = {
    val (merges, alphabet) = train(s, d, nMerges)
    (alphabet ++ merges.map(_.merged)).distinct
  }

  /** q_c42: the learned merge table (rank, pair, merged piece,
    * likelihood-gain score). Model state ⇒ rows-only driver check.
    */
  def mergesDf(s: SparkSession, d: String, nMerges: Int = 15): DataFrame = {
    import s.implicits._
    train(s, d, nMerges)._1
      .toDF("rank", "left", "right", "merged", "score")
      .orderBy(col("rank"))
  }

  /** q_c43: per-document token counts under the trained vocabulary via
    * BERT's greedy longest-match (one map-side projection through the
    * codegen'd [[graft.functions.WordPieceCountTokens]]); completes the
    * three-family fertility comparison with q_c34 (BPE) and q_c40
    * (unigram). Model state ⇒ rows-only.
    */
  def encodedCounts(s: SparkSession, d: String, nMerges: Int = 15): DataFrame = {
    import graft.core.Decimals._
    val fn = registerCounter(s, d, nMerges)
    Tables(s, d, "documents")
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("words"))
      .select(
        col("doc_id"),
        size(col("words")).cast("long").as("n_words"),
        expr("aggregate(words, 0L, (a, w) -> a + length(w))").as("n_chars"),
        expr(s"$fn(words)").as("n_wp_tokens"))
      .select(
        col("doc_id"), col("n_words"), col("n_chars"), col("n_wp_tokens"),
        emit(
          when(col("n_wp_tokens") === 0, lit(0).cast(D38))
            .otherwise((dec(col("n_chars")) / dec(col("n_wp_tokens"))).cast(D38)))
          .as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  /** Train (memoized) and register the model-bound token counter (the
    * [[graft.operators.BpeTrainer.registerCounter]] discipline). */
  def registerCounter(s: SparkSession, d: String, nMerges: Int = 15): String =
    graft.functions.WordPieceCountTokens.register(s, vocab(s, d, nMerges))
}
