package graft.operators

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed training of the quality classifier — the LEARNED model
  * the fixed-weight q_c30 stands in for (fastText-style hashed linear
  * classifier: Joulin et al. 2016; quality filtering as "gold vs raw"
  * classification: GPT-3 §A / CCNet / DCLM). q_c30/q_c49 SCORE with a
  * fixed LCG weight vector; this trains the weights by full-batch
  * logistic regression, with labels distilled from the REGISTERED
  * Gopher-rules filter ([[TextQueries.rulesFlags]] `pass` — the
  * rules-as-teacher setup used when no curated gold corpus exists).
  *
  * Distributed shape per iteration — the Lloyd / BpeTrainer discipline
  * (driver holds MODEL state only, never data):
  *   1. the corpus is featurized ONCE into a session-memoized
  *      (doc_id, y, n_tokens, cnts[64]) frame — one map-side projection
  *      (token → [[TextQueries.tokenBucket64]] hash bucket → count
  *      array via a HOF fold; labels ride the same projection because
  *      rulesFlags PRESERVES its input columns), no shuffle;
  *   2. each iteration is ONE map-side-combinable aggregation to a
  *      single 67-cell row (64 gradient sums + bias gradient + log-loss
  *      + correct count) — the only traffic is partial-agg merges;
  *   3. the driver applies w ← w − η·g/n (65 doubles of model state).
  * At 100 TB: T iterations cost T aggregation-only scans of the CACHED
  * 65-ints-per-doc feature frame (≪ the corpus; ~0.5 KB/doc), and the
  * model is 65 doubles regardless of corpus size.
  *
  * Determinism (the trainer trajectory is spec-pinned to an independent
  * driver-side fold, so aggregation ORDER must not leak into results):
  * every per-document double (margin → sigmoid → residual/loss) is
  * computed row-locally in a FIXED fold order, then quantized to
  * DECIMAL before the cross-document SUM — exact decimal addition is
  * order-independent, so the gradient (and therefore the whole weight
  * trajectory) is identical under any partitioning. The quantization
  * step (1e-12 on gradients, 1e-6 on loss) is part of the model
  * definition, not a tolerance.
  */
object QualityClassifierTrainer {

  /** Hashed feature dimensionality — q_c30's bucket count (shared rule). */
  val D = 64

  /** One trajectory row: statistics at the CURRENT weights (before the
    * iteration's update), all integers so the trajectory is exactly
    * reproducible. `gradBiasMicros` is the bias gradient sum in 1e-6
    * units — the convergence signal (→ 0 as the fit settles).
    */
  final case class IterStat(iter: Long, nDocs: Long, nCorrect: Long,
                            accPm: Long, lossMicros: Long, gradBiasMicros: Long)

  final case class Model(wBias: Double, w: Array[Double], trajectory: Seq[IterStat])

  /** The (doc_id, y, n_tokens, cnts[D]) training frame — ONE map-side
    * projection over documents (labels from the registered rules filter,
    * features from the registered bucket hash), session-memoized so the
    * T training scans and q_c138's scoring pass share one featurize.
    */
  private[graft] def featureFrame(s: SparkSession, d: String): DataFrame =
    graft.core.SessionMemo.getOrBuild(
      s, "cls_features", d, Seq(s"$d/documents.parquet"))(
      featurize(Tables(s, d, "documents")))

  /** The text → (doc_id, y, n_tokens, cnts[D]) featurization as a PURE
    * stateless projection over any (doc_id, text) frame — extracted so
    * the streaming twin ([[graft.streaming.StreamingOps
    * .classifierScoresTrained]]) runs the IDENTICAL expression tree per
    * micro-batch (no memo — a memo has no meaning across batches).
    */
  private[graft] def featurize(docs: DataFrame): DataFrame = {
    TextQueries.registerPolyHash(docs.sparkSession)
    TextQueries.rulesFlags(docs)
      .select(col("doc_id"), col("pass").cast("long").as("y"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("toks"))
      .select(col("doc_id"), col("y"),
        size(col("toks")).cast("long").as("n_tokens"),
        // hash each token ONCE, then fold the bucket ids into a count
        // array — O(D) array copies per token, zero shuffles
        expr(s"""aggregate(transform(toks, w -> ${TextQueries.tokenBucket64}),
                |  array_repeat(0L, $D),
                |  (acc, b) -> transform(acc, (v, i) -> IF(i = b, v + 1L, v)))"""
          .stripMargin).as("cnts"))
  }

  /** The per-row margin column at weights (wBias, w): bias + (Σ_b
    * cnt_b·w_b)/max(n_tokens,1), the Σ a FIXED-order index fold (zip_with
    * then left-to-right aggregate) so the double arithmetic is identical
    * on every engine pass and in the spec's reference fold.
    */
  private def marginCol(wBias: Double, w: Array[Double]) =
    marginExpr(wBias, w, col("cnts"), col("n_tokens"))

  /** The margin at explicit (cnts, nTokens) columns — exposed so the
    * trained ensemble signal ([[PipelineQueries.ensembleSignals]] under
    * `spark.graft.quality.trained`) evaluates the EXACT q_c138
    * arithmetic (same fixed fold order, same IEEE ops) inside its own
    * fused projection; a re-derivation there could disagree on
    * documents whose margin sits at the threshold.
    */
  private[graft] def marginExpr(
      wBias: Double, w: Array[Double],
      cnts: org.apache.spark.sql.Column,
      nTokens: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val wLit = array(w.map(x => lit(x)).toIndexedSeq: _*)
    aggregate(
      zip_with(cnts, wLit, (c, wt) => c.cast("double") * wt),
      lit(0.0), (a, x) => a + x) /
      greatest(nTokens, lit(1L)).cast("double") + lit(wBias)
  }

  /** The TRAINED quality key — (doc_id, n_tokens, qkey) with qkey the
    * q_c138 margin in integer micros (CAST truncation of a bit-exact
    * double is deterministic), the drop-in replacement for
    * [[TextQueries.qualityKeyFrame]]'s fixed-weight key when
    * `spark.graft.quality.trained` is on: higher = better, ties broken
    * downstream by min doc_id exactly as before. Model state ⇒ the
    * trained key has no SQL twin; consumers flip to rows-only gates.
    */
  private[graft] def trainedQualityKey(s: SparkSession, d: String): DataFrame = {
    val m = train(s, d, 24)
    featureFrame(s, d).select(col("doc_id"), col("n_tokens"),
      (marginCol(m.wBias, m.w) * lit(1e6)).cast("long").as("qkey"))
  }

  /** Train `iters` full-batch iterations at learning rate η = 2.0
    * (measured on both driver fixtures: loss monotone at every step AND
    * positive class separation by iteration 24; η = 0.5 × 12 left the
    * sf0.01 separation at zero)
    * (a SessionMemo value of kind `cls_weights` per (dir, iters) and
    * corpus snapshot — the model is pure data, not session-bound). Each
    * iteration collects ONE row; the feature frame is built once.
    */
  def train(s: SparkSession, d: String, iters: Int): Model =
    graft.core.SessionMemo.value(
      s, "cls_weights", (d, iters), Seq(s"$d/documents.parquet"))(
      trainUncached(s, d, iters))

  /** The per-row scored frame at weights (wBias, w): margin, sigmoid,
    * clamp, quantized residuals and loss — ONE definition shared by the
    * full-corpus trainer (q_c137) and the holdout-validated trainer
    * (q_c139), so the model arithmetic cannot fork between them.
    * Row-local doubles fold in a fixed order; the DECIMAL quantization
    * happens HERE, before any cross-document sum.
    */
  private def scoredFrame(f: DataFrame, wBias: Double, w: Array[Double]): DataFrame =
    f.select(f.columns.map(col).toIndexedSeq :+ marginCol(wBias, w).as("m"): _*)
      .withColumn("p", lit(1.0) / (lit(1.0) + exp(-col("m"))))
      // clamp keeps ln() finite if a margin ever saturates p to 0/1
      .withColumn("pc", least(greatest(col("p"), lit(1e-12)), lit(1.0 - 1e-12)))
      // residuals live in (-1, 1): DECIMAL(14,12) keeps the later
      // product with a DECIMAL(10,0) count inside precision 38
      // (14+10+1 = 25), so the multiply — and therefore the gradient —
      // is EXACT; a wider residual type would trip Spark's
      // allowPrecisionLoss scale reduction (25→6 digits) and leak
      // aggregation-order noise back into the trajectory
      .withColumn("resid", (col("p") - col("y")).cast("decimal(14,12)"))
      .withColumn("resid_n", ((col("p") - col("y")) /
        greatest(col("n_tokens"), lit(1L)).cast("double")).cast("decimal(14,12)"))
      .withColumn("loss_u", ((-(col("y") * log(col("pc")) +
        (lit(1L) - col("y")) * log(lit(1.0) - col("pc")))) * lit(1e6))
        .cast("decimal(18,0)"))
      .withColumn("correct",
        when((col("m") > 0) === (col("y") === 1L), 1L).otherwise(0L))

  private def trainUncached(s: SparkSession, d: String, iters: Int): Model =
    trainOnFrame(featureFrame(s, d), iters)

  /** The full-batch GD loop over an EXPLICIT feature frame — extracted
    * from the dir-bound trainer so q_c147's retrain-on-drift can fit
    * the union of the training corpus and an arriving batch with the
    * IDENTICAL update arithmetic (same η, same decimal quantization,
    * same fixed fold order — the trajectory discipline carries over
    * unchanged).
    */
  private[graft] def trainOnFrame(f: DataFrame, iters: Int): Model = {
    val eta = 2.0
    var wBias = 0.0
    val w = Array.fill(D)(0.0)
    val traj = scala.collection.mutable.ArrayBuffer.empty[IterStat]
    var nDocs = 0L
    for (t <- 1 to iters) {
      val scored = scoredFrame(f, wBias, w)
      val gradAggs =
        (0 until D).map(b =>
          sum(col("resid_n") * col("cnts").getItem(b).cast("decimal(10,0)"))
            .as(s"g$b")) ++ Seq(
          sum(col("resid")).as("gb"),
          sum(col("loss_u")).cast("long").as("loss_micros"),
          sum(col("correct")).cast("long").as("n_correct"),
          count(lit(1)).cast("long").as("n_docs"))
      val row = scored.agg(gradAggs.head, gradAggs.tail: _*).head()
      nDocs = row.getAs[Long]("n_docs")
      // fail fast on a degenerate corpus: with zero documents the
      // decimal sums are NULL (getDecimal would NPE) and the weight
      // update divides by zero — the round-16 empty-group discipline
      // (ADVICE round 17)
      require(nDocs > 0,
        "classifier training needs a non-empty feature frame (0 documents)")
      val gb = row.getDecimal(D).doubleValue()
      traj += IterStat(t.toLong, nDocs, row.getAs[Long]("n_correct"),
        row.getAs[Long]("n_correct") * 1000L / math.max(nDocs, 1L),
        row.getAs[Long]("loss_micros"),
        math.round(gb * 1e6))
      for (b <- 0 until D)
        w(b) -= eta * row.getDecimal(b).doubleValue() / nDocs
      wBias -= eta * gb / nDocs
    }
    Model(wBias, w, traj.toSeq)
  }

  /** One holdout-trajectory row: the TRAIN split's gradient drives the
    * update; the VAL split only reports. All integers (the IterStat
    * discipline); `val_*` falling alongside `train_*` is the
    * generalization evidence a production filter gate reads.
    */
  final case class SplitStat(iter: Long, nTrain: Long, nVal: Long,
                             trainCorrect: Long, valCorrect: Long,
                             trainLossMicros: Long, valLossMicros: Long)

  /** q_c139's holdout-validated training: gradient from the q_c37 TRAIN
    * split only (the REGISTERED split rule — [[PipelineQueries
    * .splitBucket]] < 800), per-iteration loss/agreement reported for
    * train AND val from the SAME single aggregation (conditional sums —
    * the gateReport pivot pattern), so the holdout costs zero extra
    * scans. The val readout is the REGISTERED val split only —
    * splitBucket ∈ [800, 900), exactly [[PipelineQueries.splitLabel]]'s
    * "val" — so the q_c37 TEST split ([900, 1000)) is consumed by
    * neither gradient nor model selection: it stays untouched for a
    * final one-shot evaluation (ADVICE round 17 — the old `!tr` val
    * definition silently folded the test split into the per-iteration
    * readout). The val docs never influence a weight: the
    * generalization readout is honest by construction (the q_c113
    * clean-holdout discipline applied to model training).
    */
  private[graft] def trainSplit(s: SparkSession, d: String, iters: Int)
      : (Double, Array[Double], Seq[SplitStat]) =
    graft.core.SessionMemo.value(
      s, "cls_split_weights", (d, iters), Seq(s"$d/documents.parquet")) {
      val f = featureFrame(s, d)
        .withColumn("tr", (PipelineQueries.splitBucket < 800).cast("boolean"))
        .withColumn("va", (PipelineQueries.splitBucket >= 800
          && PipelineQueries.splitBucket < 900).cast("boolean"))
      val eta = 2.0
      var wBias = 0.0
      val w = Array.fill(D)(0.0)
      val traj = scala.collection.mutable.ArrayBuffer.empty[SplitStat]
      for (t <- 1 to iters) {
        val scored = scoredFrame(f, wBias, w)
        def onTr(c: org.apache.spark.sql.Column) = when(col("tr"), c)
        def onVal(c: org.apache.spark.sql.Column) = when(col("va"), c)
        val gradAggs =
          (0 until D).map(b =>
            sum(onTr(col("resid_n") * col("cnts").getItem(b).cast("decimal(10,0)")))
              .as(s"g$b")) ++ Seq(
            sum(onTr(col("resid"))).as("gb"),
            coalesce(sum(onTr(col("loss_u"))), lit(0)).cast("long").as("tr_loss"),
            coalesce(sum(onVal(col("loss_u"))), lit(0)).cast("long").as("va_loss"),
            coalesce(sum(onTr(col("correct"))), lit(0L)).cast("long").as("tr_ok"),
            coalesce(sum(onVal(col("correct"))), lit(0L)).cast("long").as("va_ok"),
            coalesce(sum(onTr(lit(1L))), lit(0L)).cast("long").as("n_tr"),
            coalesce(sum(onVal(lit(1L))), lit(0L)).cast("long").as("n_va"))
        val row = scored.agg(gradAggs.head, gradAggs.tail: _*).head()
        val nTr = row.getAs[Long]("n_tr")
        // an empty train split makes every gradient NULL and the update
        // 0/0 — fail fast instead of silently producing NaN weights
        // (ADVICE round 17)
        require(nTr > 0,
          s"holdout training needs a non-empty train split ($d yields 0 train docs)")
        val gb = row.getDecimal(D).doubleValue()
        traj += SplitStat(t.toLong, nTr, row.getAs[Long]("n_va"),
          row.getAs[Long]("tr_ok"), row.getAs[Long]("va_ok"),
          row.getAs[Long]("tr_loss"), row.getAs[Long]("va_loss"))
        for (b <- 0 until D)
          w(b) -= eta * row.getDecimal(b).doubleValue() / nTr
        wBias -= eta * gb / nTr
      }
      (wBias, w, traj.toSeq)
    }

  /** The trained model persisted as an ENGINE-NEUTRAL parquet artifact —
    * the same stored-index discipline as the BM25/MinHash/IVF/phrase
    * families (the SessionMemo stored-entry lifecycle): `weights/`
    * holds one (bucket, weight) row per feature and `meta/` one row of
    * (w_bias, eta, iters, d, n_docs) hyperparameters, so ANY parquet
    * reader can score the corpus from the artifact alone — no session
    * cache, no Spark (tools/compare_oracle.py replays q_c138's scores
    * in DuckDB from weights + documents and compares bit-exactly; the
    * margin arithmetic is a fixed-order fold of IEEE ops, so equal
    * inputs give equal bits). 65 doubles: the artifact is O(model),
    * never O(corpus).
    */
  private[graft] def modelArtifact(s: SparkSession, d: String, iters: Int = 24): String =
    graft.core.SessionMemo.stored(s, "cls-model", s"$d#$iters", Seq(s"$d/documents.parquet")) { path =>
      writeModelArtifact(s, path, train(s, d, iters), iters,
        scoresDf(s, d, iters))
    }

  /** Persist a trained model as the engine-neutral artifact layout —
    * weights/ + meta/ + the TRAINING-TIME score distribution as
    * baseline/ (all-integer: keep counts + margin micros RAW sums,
    * never integer division — truncating division on negative sums
    * diverges between engines). ONE writer shared by the primary
    * [[modelArtifact]] and q_c147's [[retrainedArtifact]], so the two
    * artifacts cannot differ in layout; `scored` is the q_c138-shaped
    * frame over the model's OWN training corpus (baseline = what the
    * model saw at fit time, the distribution q_c143 alarms against).
    */
  private def writeModelArtifact(
      s: SparkSession, path: String, m: Model, iters: Int,
      scored: DataFrame): Unit = {
    val sp = s
    import sp.implicits._
    m.w.toSeq.zipWithIndex.map { case (wt, b) => (b.toLong, wt) }
      .toDF("bucket", "weight")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/weights")
    Seq((m.wBias, 2.0, iters.toLong, D.toLong, m.trajectory.last.nDocs))
      .toDF("w_bias", "eta", "iters", "d", "n_docs")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    scoreStats(scored)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/baseline")
  }

  /** One deterministic [a-z0-9]+ token per hash bucket — driftTokens(b)
    * is the first `t<i>` (i = 0, 1, 2, …) whose
    * [[TextQueries.tokenBucket64]] hash lands in bucket b. A constant
    * of the hash function (shared verbatim with the DuckDB replay's
    * VALUES table), used by q_c147 to CONSTRUCT the drifted batch: a
    * one-token document scores exactly w(b) + bias, so targeting the
    * bucket farthest from the training-time mean produces the largest
    * constructible distribution shift.
    */
  private[graft] val driftTokens: IndexedSeq[String] = IndexedSeq(
    "t4", "t5", "t6", "t7", "t8", "t9", "t109", "t209", "t309", "t409",
    "t509", "t90", "t91", "t70", "t71", "t50", "t51", "t30", "t31", "t10",
    "t11", "t12", "t13", "t14", "t15", "t16", "t17", "t18", "t19", "t111",
    "t112", "t113", "t114", "t115", "t116", "t117", "t118", "t119", "t219",
    "t319", "t419", "t519", "t619", "t719", "t80", "t81", "t60", "t61",
    "t40", "t41", "t20", "t21", "t22", "t23", "t24", "t25", "t26", "t27",
    "t28", "t29", "t0", "t1", "t2", "t3")

  /** The drift-construction bucket for a stored model: argmax over b of
    * |trunc((w(b) + bias)·1e6) − mean_base_micros| (exact-integer micro
    * arithmetic end to end, lowest b on ties) — deterministic given the
    * artifact and re-derivable by any reader of its parquet (the DuckDB
    * replay recomputes it from weights + meta + baseline alone).
    */
  private[graft] def driftBucket(s: SparkSession, path: String): Int = {
    val (wBias, w) = loadModel(s, path)
    val base = s.read.parquet(s"$path/baseline").head()
    val meanBase = base.getAs[Long]("margin_sum_micros") /
      math.max(base.getAs[Long]("n_docs"), 1L)
    (0 until D).maxBy(b =>
      (math.abs(((w(b) + wBias) * 1e6).toLong - meanBase), -b))
  }

  /** q_c147's deterministic drifted batch: 50 single-token documents
    * (fresh doc_ids past the corpus range) whose token hashes to
    * [[driftBucket]] — each scores exactly w(b*) + bias under the
    * stored model, the largest constructible mean shift.
    */
  private[graft] def driftBatch(s: SparkSession, path: String): DataFrame = {
    val tok = driftTokens(driftBucket(s, path))
    val sp = s
    import sp.implicits._
    (1L to 50L).map(i => (10000000L + i, tok)).toDF("doc_id", "text")
  }

  /** q_c147's RETRAINED artifact — the act the drift alarm triggers:
    * the model refit from scratch over training corpus ∪ drifted batch
    * (labels for the batch from the same rules teacher, via the shared
    * [[featurize]]), persisted in the identical layout with its
    * baseline over the UNION — so the monitor, re-pointed at the new
    * artifact, measures arriving data against the distribution the
    * refreshed model actually saw. O(model) artifact; the retrain costs
    * `iters` aggregation-only scans of the union feature frame.
    */
  private[graft] def retrainedArtifact(
      s: SparkSession, d: String, iters: Int = 24): String =
    graft.core.SessionMemo.stored(s, "cls-retrained", s"$d#$iters", Seq(s"$d/documents.parquet")) { path =>
      val batch = driftBatch(s, modelArtifact(s, d, iters))
      val f = featureFrame(s, d).unionByName(featurize(batch))
      val m = trainOnFrame(f, iters)
      writeModelArtifact(s, path, m, iters, scoreFrame(f, m.wBias, m.w))
    }

  /** q_c147's lifecycle frame — the monitor→act→re-baseline loop: the
    * constructed drifted batch scored against the ORIGINAL artifact
    * (phase `pre` — the alarm that triggers retraining) and against the
    * RETRAINED artifact (phase `post` — the same batch under the
    * refreshed model and its union baseline). Two rows, the q_c143
    * drift schema + phase.
    */
  private[graft] def retrainReport(
      s: SparkSession, d: String, iters: Int = 24): DataFrame = {
    val oldPath = modelArtifact(s, d, iters)
    val newPath = retrainedArtifact(s, d, iters)
    val batch = driftBatch(s, oldPath)
    driftReport(s, oldPath, batch).withColumn("phase", lit("pre"))
      .unionByName(driftReport(s, newPath, batch).withColumn("phase", lit("post")))
      .select(col("phase") +: driftCols.map(col): _*)
      .orderBy(col("phase").desc)
  }

  /** The drift-report column list, single copy for q_c143/q_c147. */
  private[graft] val driftCols: Seq[String] = Seq(
    "n_base", "keep_pm_base", "mean_margin_micros_base",
    "n_batch", "keep_pm_batch", "mean_margin_micros_batch",
    "delta_keep_pm", "delta_mean_micros", "alarm")

  /** The LINEAR cells of the score-distribution row — (n_docs, n_keep,
    * margin_sum_micros), all additive: per-document margins truncate
    * toward zero at micros BEFORE the sum (Spark double→long cast; the
    * DuckDB replay uses trunc() to match), so the aggregate is a plain
    * sum of per-row integers and therefore micro-batch-accumulable —
    * the q_c126 gateSums lambda-split, which is what makes the drift
    * monitor streamable ([[graft.streaming.StreamingOps.driftUpdates]]
    * runs THIS aggregation in complete mode).
    */
  private[graft] def scoreSums(scored: DataFrame): DataFrame =
    scored.agg(
      count(lit(1)).cast("long").as("n_docs"),
      coalesce(sum(when(col("cls") === "keep", 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n_keep"),
      coalesce(sum((col("score") * lit(1e6)).cast("long")), lit(0L))
        .cast("long").as("margin_sum_micros"))

  /** The nonlinear read-time tail over the linear cells: keep rate in
    * permille (empty-batch guarded with greatest(n, 1)). ONE definition
    * shared by the artifact's training-time baseline, q_c143's batch
    * side and the streaming serve, so the stats cannot fork.
    */
  private[graft] def statsTail(sums: DataFrame): DataFrame =
    sums.select(col("n_docs"), col("n_keep"),
      (col("n_keep") * 1000L / greatest(col("n_docs"), lit(1L)))
        .cast("long").as("keep_pm"),
      col("margin_sum_micros"))

  private def scoreStats(scored: DataFrame): DataFrame =
    statsTail(scoreSums(scored))

  /** Drift-alarm thresholds. TWO signals, because either can be dead
    * alone: a conservative model (this corpus — max weight + bias < 0,
    * every verdict is drop) never moves its keep rate no matter how
    * the text shifts, but its margin MEAN still tracks the arriving
    * distribution; conversely a calibrated-threshold model can flip
    * verdicts while the mean barely moves. 100 permille of keep rate
    * (10 points) or 100 000 micros of mean margin (0.1 logit units —
    * ≥ 5σ of the batch-mean sampling noise at the registered batch
    * sizes) — neither is explainable by sampling noise.
    */
  private[graft] val driftKeepPmThreshold     = 100L
  private[graft] val driftMeanMicrosThreshold = 100000L

  /** q_c143's drift report — the production trigger for RETRAINING: an
    * arriving batch is scored with the STORED weights (never retrained
    * per batch) and its keep-rate AND mean margin are compared to the
    * artifact's persisted training-time baseline; the alarm fires at
    * either [[driftKeepPmThreshold]] or [[driftMeanMicrosThreshold]].
    * Mean margins divide with `div` — EXACT-integer trunc-toward-zero
    * division, which DuckDB's `//` matches on negative sums (double
    * division + cast would not be provably engine-stable here). One
    * map-side scoring projection over the batch + one 3-cell aggregate
    * + the broadcast 1-row baseline read: nothing rescans the training
    * corpus.
    */
  private[graft] def driftReport(
      s: SparkSession, path: String, batch: DataFrame): DataFrame = {
    val (wBias, w) = loadModel(s, path)
    driftFromStats(s, path, scoreStats(scoreProjection(batch, wBias, w)))
  }

  /** The drift compare over an already-aggregated batch-side stats row
    * (n_docs, keep_pm, margin_sum_micros) — the tail shared by the
    * batch [[driftReport]] and the streaming serve
    * ([[graft.streaming.StreamingOps.driftServe]]), so the alarm
    * arithmetic cannot fork between the two paths.
    */
  private[graft] def driftFromStats(
      s: SparkSession, path: String, batchStats: DataFrame): DataFrame = {
    val base = s.read.parquet(s"$path/baseline")
      .select(col("n_docs").as("n_base"), col("keep_pm").as("keep_pm_base"),
        col("margin_sum_micros").as("ms_base"))
    batchStats
      .select(col("n_docs").as("n_batch"), col("keep_pm").as("keep_pm_batch"),
        col("margin_sum_micros").as("ms_batch"))
      .crossJoin(broadcast(base))
      .withColumn("mean_margin_micros_base",
        expr("ms_base div greatest(n_base, 1)"))
      .withColumn("mean_margin_micros_batch",
        expr("ms_batch div greatest(n_batch, 1)"))
      .withColumn("delta_keep_pm", col("keep_pm_batch") - col("keep_pm_base"))
      .withColumn("delta_mean_micros",
        col("mean_margin_micros_batch") - col("mean_margin_micros_base"))
      .withColumn("alarm",
        when(abs(col("delta_keep_pm")) >= driftKeepPmThreshold ||
             abs(col("delta_mean_micros")) >= driftMeanMicrosThreshold, 1L)
          .otherwise(0L))
      .select(col("n_base"), col("keep_pm_base"), col("mean_margin_micros_base"),
        col("n_batch"), col("keep_pm_batch"), col("mean_margin_micros_batch"),
        col("delta_keep_pm"), col("delta_mean_micros"), col("alarm"))
  }

  /** q_c138's scoring served FROM the stored artifact (weights read back
    * off parquet, not the session cache) — the load side of the
    * engine-neutrality claim; ClassifierTrainerSpec pins it
    * row-identical to the cache-served [[scoresDf]].
    */
  private[graft] def scoresFromArtifact(s: SparkSession, d: String, path: String): DataFrame = {
    val (wBias, w) = loadModel(s, path)
    scoreFrame(featureFrame(s, d), wBias, w)
  }

  /** Read the 65-double model back off a stored artifact — the load
    * side shared by [[scoresFromArtifact]] and the streaming twin's
    * reference state.
    */
  private[graft] def loadModel(s: SparkSession, path: String): (Double, Array[Double]) = {
    val w = new Array[Double](D)
    s.read.parquet(s"$path/weights").collect()
      .foreach(r => w(r.getAs[Long]("bucket").toInt) = r.getAs[Double]("weight"))
    (s.read.parquet(s"$path/meta").head().getAs[Double]("w_bias"), w)
  }

  /** The q_c138 scoring as a PURE per-row projection at explicit
    * weights (no memo, no sort) — the form a micro-batch can run;
    * [[scoreFrame]] is this plus the batch presentation sort.
    */
  private[graft] def scoreProjection(
      docs: DataFrame, wBias: Double, w: Array[Double]): DataFrame =
    scoreCols(featurize(docs), wBias, w)

  /** q_c142's one-shot TEST evaluation — the final number a production
    * filter ships with. The q_c37 test split ([[PipelineQueries
    * .splitBucket]] ≥ 900) is scored EXACTLY ONCE, with the final
    * holdout-trained weights (q_c139's — gradient from train only, val
    * only reported): no gradient ever folded a test doc, no
    * per-iteration readout ever showed one (ADVICE round 17 closed that
    * leak), so this aggregate is an unbiased generalization estimate by
    * construction. One filtered scan of the memoized feature frame into
    * a single all-integer row; deterministic via the same decimal
    * quantization as the trajectories.
    */
  private[graft] def testEvalDf(s: SparkSession, d: String, iters: Int): DataFrame = {
    val (wBias, w, _) = trainSplit(s, d, iters)
    val f = featureFrame(s, d)
      .filter(PipelineQueries.splitBucket >= 900)
    scoredFrame(f, wBias, w)
      .agg(
        count(lit(1)).cast("long").as("n_test"),
        coalesce(sum(col("correct")), lit(0L)).cast("long").as("n_correct"),
        coalesce(sum(col("loss_u")), lit(0)).cast("long").as("loss_micros"))
      .select(col("n_test"), col("n_correct"),
        (col("n_correct") * 1000L / greatest(col("n_test"), lit(1L)))
          .cast("long").as("acc_pm"),
        col("loss_micros"))
  }

  /** q_c139's trajectory frame — all-integer train/val statistics. */
  private[graft] def splitTrajectoryDf(s: SparkSession, d: String, iters: Int): DataFrame = {
    val sp = s
    import sp.implicits._
    trainSplit(s, d, iters)._3
      .map(r => (r.iter, r.nTrain, r.nVal, r.trainCorrect, r.valCorrect,
        r.trainLossMicros, r.valLossMicros))
      .toDF("iter", "n_train", "n_val", "train_correct", "val_correct",
        "train_loss_micros", "val_loss_micros")
  }

  /** q_c137's trajectory frame — all-integer per-iteration statistics. */
  private[graft] def trajectoryDf(s: SparkSession, d: String, iters: Int): DataFrame = {
    val sp = s
    import sp.implicits._
    train(s, d, iters).trajectory
      .map(r => (r.iter, r.nDocs, r.nCorrect, r.accPm, r.lossMicros, r.gradBiasMicros))
      .toDF("iter", "n_docs", "n_correct", "acc_pm", "loss_micros", "grad_bias_micros")
  }

  /** q_c138's scoring frame — the TRAINED encoder applied to the corpus:
    * per-document margin, keep/drop verdict, teacher label and agreement
    * flag. One map-side projection over the shared feature frame (the
    * q_c30 plan shape with learned weights swapped in — exactly the
    * "real learned model" its design note promises).
    */
  private[graft] def scoresDf(s: SparkSession, d: String, iters: Int): DataFrame = {
    val m = train(s, d, iters)
    scoreFrame(featureFrame(s, d), m.wBias, m.w)
  }

  /** The q_c138 output columns over a feature frame at explicit weights
    * — ONE definition shared by the cache-served [[scoresDf]], the
    * artifact-served [[scoresFromArtifact]] and the streaming
    * [[scoreProjection]], so the paths cannot fork.
    */
  private def scoreCols(f: DataFrame, wBias: Double, w: Array[Double]): DataFrame =
    f.select(col("doc_id"), col("y").as("label"), col("n_tokens"),
        marginCol(wBias, w).as("score"))
      .select(col("doc_id"), col("label"), col("n_tokens"), col("score"),
        when(col("score") > 0, "keep").otherwise("drop").as("cls"),
        when((col("score") > 0) === (col("label") === 1L), 1L).otherwise(0L)
          .as("correct"))

  private def scoreFrame(f: DataFrame, wBias: Double, w: Array[Double]): DataFrame =
    scoreCols(f, wBias, w).orderBy(col("doc_id"))
}
