package graft.operators

import graft.core.Tables
import graft.functions.{UnigramCountTokens, UnigramModel, UnigramSegmentPieces}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed unigram-LM tokenizer training (Kudo 2018 — the
  * SentencePiece unigram algorithm), the second of the two public
  * vocabulary-induction families ([[BpeTrainer]] is the merge-based one):
  *
  *   1. SEED — candidate inventory = every substring of length ≤ maxLen
  *      of the corpus's word-frequency table, scored by freq-weighted
  *      occurrence count; ALL single characters plus the top `seedMulti`
  *      multi-character substrings enter the model. As with BPE, the
  *      corpus-sized stage is exactly the tokenize + groupBy(word): the
  *      substring explode and every later stage run over the
  *      Heaps-law-bounded VOCABULARY — unigram training is tractable at
  *      100 TB for the same reason BPE is.
  *   2. EM rounds (hard/Viterbi EM): E-step re-segments every word by
  *      Viterbi under current piece log-probs — the DP rides into the
  *      executors as the codegen'd [[UnigramSegmentPieces]] expression
  *      carrying the model as reference state, and expected counts are
  *      ONE vocab-sized aggregation (explode pieces, sum word freq);
  *      M-step re-estimates add-one-smoothed probabilities driver-side
  *      (model state, the Lloyd-centroid class — a piece-inventory-sized
  *      collect, never data).
  *   3. PRUNE — keep all single characters (coverage guarantee) plus the
  *      top `multiKeep` multi-char pieces by final count. (Full
  *      SentencePiece prunes by likelihood loss with EM re-runs between
  *      prune steps; count-based pruning after EM is the documented
  *      simplification — the E/M structure and the Viterbi semantics are
  *      the published algorithm's.)
  *
  * Determinism: piece log-probs quantize to micros via Spark's own
  * Decimal cast before entering the DP, tie-breaks are pinned (see
  * [[UnigramModel]]), all orderings are (count DESC, piece ASC) —
  * UnigramTrainerSpec proves the full training trajectory (every round's
  * counts) and the final model identical to an independent plain-Scala
  * reference on the driver corpus.
  */
object UnigramTrainer {

  final case class PieceRow(piece: String, count: Long, logpMicros: Long)

  /** micros(CAST(d AS DECIMAL(18,6))) — the engine-wide quantization,
    * single-sourced in [[graft.core.Decimals.micros6]].
    */
  private def q6micros(d: Double): Long = graft.core.Decimals.micros6(d)

  /** Add-one-smoothed log-prob table over the current counts. */
  private def logps(counts: Seq[(String, Long)]): Seq[PieceRow] = {
    val total = counts.map(_._2).sum.toDouble
    val v = counts.size.toDouble
    counts.map { case (p, c) =>
      PieceRow(p, c, q6micros(math.log((c + 1).toDouble / (total + v))))
    }
  }

  private def model(rows: Seq[PieceRow]): UnigramModel =
    UnigramModel(rows.map(_.piece).toArray, rows.map(_.logpMicros).toArray)

  // learned vocab is pure model data — shared across q_c39/q_c40 per
  // (dir, params) and corpus snapshot (SessionMemo value `unigram_vocab`)
  def train(s: SparkSession, d: String, maxLen: Int = 4, seedMulti: Int = 150,
      emRounds: Int = 3, multiKeep: Int = 60): Seq[PieceRow] =
    graft.core.SessionMemo.value(s, "unigram_vocab",
      (d, (maxLen, seedMulti, emRounds, multiKeep)), Seq(s"$d/documents.parquet"))(
      trainUncached(s, d, maxLen, seedMulti, emRounds, multiKeep))

  private def trainUncached(s: SparkSession, d: String, maxLen: Int,
      seedMulti: Int, emRounds: Int, multiKeep: Int): Seq[PieceRow] = {
    // vocab-sized loop stages: AQE off for the duration (the measured
    // BpeTrainer job-count discipline), restored after
    val aqeWas = s.conf.get("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val wf = Tables(s, d, "documents")
        .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("wf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.core.CachedRdds.registerDf(wf)

      // seed: substrings of length 1..maxLen over the WORD table
      val subs = wf
        .select(col("wf"), explode(expr(
          s"""flatten(transform(sequence(1, length(word)),
             |  i -> transform(sequence(i, least(i + ${maxLen - 1}, length(word))),
             |    j -> substring(word, i, j - i + 1))))""".stripMargin)).as("sub"))
        .groupBy(col("sub")).agg(sum(col("wf")).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.core.CachedRdds.registerDf(subs)

      val singles = subs.filter(length(col("sub")) === 1)
        .orderBy(col("sub"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val multi = subs.filter(length(col("sub")) >= 2)
        .orderBy(col("cnt").desc, col("sub")).limit(seedMulti)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      subs.unpersist(false)

      // fixed inventory through EM, (count DESC, piece ASC) canonical order
      var rows = logps(scala.collection.immutable.ArraySeq.unsafeWrapArray(
        (singles ++ multi).sortBy { case (p, c) => (-c, p) }))

      var r = 0
      while (r < emRounds) {
        val fn = UnigramSegmentPieces.register(s, model(rows))
        val counts = wf
          .select(col("wf"), explode(expr(s"$fn(word)")).as("piece"))
          .groupBy(col("piece")).agg(sum(col("wf")).as("cnt"))
          .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
        rows = logps(rows
          .map(p => (p.piece, counts.getOrElse(p.piece, 0L)))
          .sortBy { case (p, c) => (-c, p) })
        r += 1
      }

      // prune: all singles + top multiKeep multis; re-normalize over the
      // kept inventory
      val (sgl, mlt) = rows.partition(_.piece.length == 1)
      val kept = (sgl ++ mlt.sortBy(p => (-p.count, p.piece)).take(multiKeep))
        .map(p => (p.piece, p.count))
        .sortBy { case (p, c) => (-c, p) }
      logps(kept)
    } finally s.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  /** q_c39: the learned piece inventory. Model state ⇒ rows-only driver
    * check; UnigramTrainerSpec carries the correctness burden.
    */
  def vocabDf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = train(s, d)
    rows.zipWithIndex
      .map { case (p, i) =>
        (i + 1L, p.piece, p.count, new java.math.BigDecimal(
          java.math.BigInteger.valueOf(p.logpMicros), 6).doubleValue)
      }
      .toDF("rank", "piece", "count", "logp")
      .orderBy(col("rank"))
  }

  /** q_c40: per-document token counts under the TRAINED unigram
    * tokenizer — one map-side projection with the Viterbi DP embedded as
    * [[UnigramCountTokens]]; joins naturally against q_c34's BPE counts
    * for the cross-tokenizer fertility comparison. Model state ⇒
    * rows-only.
    */
  def encodedCounts(s: SparkSession, d: String): DataFrame = {
    import graft.core.Decimals._
    val fn = registerCounter(s, d)
    Tables(s, d, "documents")
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("words"))
      .select(
        col("doc_id"),
        size(col("words")).cast("long").as("n_words"),
        expr("aggregate(words, 0L, (a, w) -> a + length(w))").as("n_chars"),
        expr(s"$fn(words)").as("n_unigram_tokens"))
      .select(
        col("doc_id"), col("n_words"), col("n_chars"), col("n_unigram_tokens"),
        emit(
          when(col("n_unigram_tokens") === 0, lit(0).cast(D38))
            .otherwise((dec(col("n_chars")) / dec(col("n_unigram_tokens"))).cast(D38)))
          .as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  /** Train (memoized) and register the model-bound token counter (the
    * [[graft.operators.BpeTrainer.registerCounter]] discipline). */
  def registerCounter(s: SparkSession, d: String): String =
    UnigramCountTokens.register(s, model(train(s, d)))
}
