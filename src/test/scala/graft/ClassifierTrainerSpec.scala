package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.QualityClassifierTrainer

/** q_c137/q_c138 — the trained quality classifier vs an INDEPENDENT
  * driver-side reference fold (plain Scala, no Spark: same feature
  * space, same fixed-order double arithmetic, same decimal quantization
  * discipline). Gates:
  *   1. the engine's 24-iteration trajectory equals the reference
  *      EXACTLY (the decimal-before-sum design makes the gradient — and
  *      so the whole weight path — independent of partitioning; any
  *      drift in fold order, quantization scale, or update arithmetic
  *      breaks this);
  *   2. training LEARNS: log-loss falls at every step, the bias
  *      gradient shrinks, the learned scores separate the classes, and
  *      the trained model agrees with its rules teacher strictly better
  *      than q_c30's fixed weights (0/1 accuracy itself is pinned only
  *      as ≥ the start: the conjunctive teacher is not linearly
  *      separable, so accuracy hugs the majority baseline by design);
  *   3. q_c138's scores are the reference model's margins exactly, and
  *      its agreement count is consistent with the final trajectory row.
  */
class ClassifierTrainerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"
  private val iters = 24
  private val D = QualityClassifierTrainer.D

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-clstrain-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // Spark's double→DECIMAL(p,s) cast semantics, replicated: shortest
  // decimal representation of the double, HALF_UP at scale s
  private def q(d: Double, scale: Int): BigDecimal =
    BigDecimal(java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP))

  private case class Doc(docId: Long, y: Long, n: Long, cnts: Array[Long])

  /** Reference trainer: same model definition, no Spark. */
  private def refTrain(docs: Seq[Doc])
      : (Double, Array[Double], Seq[(Long, Long, Long, Long, Long, Long)]) = {
    val eta = 2.0
    var bias = 0.0
    val w = Array.fill(D)(0.0)
    val traj = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long)]
    for (t <- 1 to iters) {
      val g = Array.fill(D)(BigDecimal(0))
      var gb = BigDecimal(0)
      var lossU = BigInt(0)
      var nCorrect = 0L
      docs.foreach { doc =>
        val nD = math.max(doc.n, 1L).toDouble
        val m = doc.cnts.indices
          .foldLeft(0.0)((a, i) => a + doc.cnts(i).toDouble * w(i)) / nD + bias
        val p = 1.0 / (1.0 + math.exp(-m))
        val pc = math.min(math.max(p, 1e-12), 1.0 - 1e-12)
        val resid = q(p - doc.y, 12)
        val residN = q((p - doc.y) / nD, 12)
        lossU += q((-(doc.y * math.log(pc) +
          (1L - doc.y) * math.log(1.0 - pc))) * 1e6, 0).toBigInt
        if ((m > 0) == (doc.y == 1L)) nCorrect += 1
        gb += resid
        for (b <- 0 until D) g(b) += residN * BigDecimal(doc.cnts(b))
      }
      traj += ((t.toLong, docs.length.toLong, nCorrect,
        nCorrect * 1000L / docs.length, lossU.toLong,
        math.round(gb.doubleValue * 1e6)))
      for (b <- 0 until D) w(b) -= eta * g(b).doubleValue / docs.length
      bias -= eta * gb.doubleValue / docs.length
    }
    (bias, w, traj.toSeq)
  }

  private def collectDocs(): Seq[Doc] =
    QualityClassifierTrainer.featureFrame(spark, sf).collect().map { r =>
      Doc(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3).toArray)
    }.toSeq

  test("engine trajectory == independent reference fold, exactly") {
    graft.core.SessionMemo.evict(spark, "cls_weights")
    val docs = collectDocs()
    val (_, _, refTraj) = refTrain(docs)
    val eng = SparkEntry.queries("q_c137_classifier_train")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(eng === refTraj,
      "the distributed trajectory must equal the driver-side reference fold")
    graft.core.CachedRdds.drain()
  }

  test("the fit learns: loss down every step, gradient shrinking, classes separated, fixed weights beaten") {
    // NOTE on the gates: the rules teacher is a CONJUNCTION of interval
    // thresholds — not linearly separable in any feature space a linear
    // model sees — so 0/1 accuracy hugs the majority baseline at any
    // iteration count (measured: converged GD lands BELOW all-drop).
    // What a linear probe provably learns is the log-loss objective and
    // the ranking signal, so those are what this pins.
    val traj = SparkEntry.queries("q_c137_classifier_train")(spark, sf)
      .collect().map(r => (r.getLong(2), r.getLong(4), r.getLong(5))).toSeq
    // log-loss strictly decreases at EVERY iteration (convex objective,
    // conservative step)
    traj.map(_._2).sliding(2).foreach { case Seq(a, b) =>
      assert(b < a, s"log-loss must fall every step: ${traj.map(_._2)}")
    }
    // the bias gradient magnitude shrinks — the fit is converging
    assert(math.abs(traj.last._3) < math.abs(traj.head._3),
      s"bias gradient must shrink: ${traj.head._3} -> ${traj.last._3}")
    // teacher agreement never falls below the untrained (all-drop) start
    assert(traj.last._1 >= traj.head._1)
    val scores = SparkEntry.queries("q_c138_classifier_scores")(spark, sf)
    // the learned scores SEPARATE the classes: mean margin of teacher-pass
    // docs above mean margin of teacher-drop docs (the ranking signal a
    // quality curriculum or threshold sweep consumes)
    val Array(mPos, mNeg) = scores
      .groupBy(col("label")).agg(avg(col("score")).as("m"))
      .orderBy(col("label").desc).collect().map(_.getDouble(1))
    assert(mPos > mNeg,
      s"trained scores must rank pass docs above drop docs: $mPos vs $mNeg")
    // and the trained weights agree with the rules teacher strictly
    // better than q_c30's fixed LCG weights do — the point of training
    val trainedAgree = scores.agg(sum(col("correct"))).head().getLong(0)
    val fixedAgree = SparkEntry.queries("q_c30_quality_classifier")(spark, sf)
      .select(col("doc_id"), col("cls"))
      .join(scores.select(col("doc_id"), col("label")), Seq("doc_id"))
      .select(when((col("cls") === "keep") === (col("label") === 1L), 1L)
        .otherwise(0L).as("c"))
      .agg(sum(col("c"))).head().getLong(0)
    assert(trainedAgree > fixedAgree,
      s"trained teacher-agreement $trainedAgree must beat fixed $fixedAgree")
    graft.core.CachedRdds.drain()
  }

  test("q_c139 holdout trajectory == reference fold on the split; val loss falls") {
    // reference: identical GD but the gradient folds ONLY train-split
    // docs (the registered q_c37 rule: LCG bucket < 800), while loss and
    // agreement are folded per split
    val docs = collectDocs()
    def bucket(id: Long): Long =
      ((id % 1000000007L) * 1103515245L + 12345L) % 1000000007L % 1000L
    def isTrain(id: Long): Boolean = bucket(id) < 800L
    // the REGISTERED val split only (splitLabel's [800, 900)): the test
    // split [900, 1000) is excluded from the per-iteration readout so
    // model selection never consumes it (ADVICE round 17)
    def isVal(id: Long): Boolean = { val b = bucket(id); b >= 800L && b < 900L }
    val eta = 2.0
    var bias = 0.0
    val w = Array.fill(D)(0.0)
    val refTraj = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long, Long)]
    for (t <- 1 to iters) {
      val g = Array.fill(D)(BigDecimal(0))
      var gb = BigDecimal(0)
      var (trLoss, vaLoss) = (BigInt(0), BigInt(0))
      var (trOk, vaOk, nTr, nVa) = (0L, 0L, 0L, 0L)
      docs.foreach { doc =>
        val nD = math.max(doc.n, 1L).toDouble
        val m = doc.cnts.indices
          .foldLeft(0.0)((a, i) => a + doc.cnts(i).toDouble * w(i)) / nD + bias
        val p = 1.0 / (1.0 + math.exp(-m))
        val pc = math.min(math.max(p, 1e-12), 1.0 - 1e-12)
        val lossU = q((-(doc.y * math.log(pc) +
          (1L - doc.y) * math.log(1.0 - pc))) * 1e6, 0).toBigInt
        val ok = (m > 0) == (doc.y == 1L)
        if (isTrain(doc.docId)) {
          nTr += 1; trLoss += lossU; if (ok) trOk += 1
          gb += q(p - doc.y, 12)
          val residN = q((p - doc.y) / nD, 12)
          for (b <- 0 until D) g(b) += residN * BigDecimal(doc.cnts(b))
        } else if (isVal(doc.docId)) { nVa += 1; vaLoss += lossU; if (ok) vaOk += 1 }
      }
      refTraj += ((t.toLong, nTr, nVa, trOk, vaOk, trLoss.toLong, vaLoss.toLong))
      for (b <- 0 until D) w(b) -= eta * g(b).doubleValue / nTr
      bias -= eta * gb.doubleValue / nTr
    }
    val eng = SparkEntry.queries("q_c139_classifier_holdout")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(eng === refTraj.toSeq,
      "the holdout trajectory must equal the split-restricted reference fold")
    // both splits non-trivial, and the fit GENERALIZES: val loss falls
    assert(refTraj.head._2 > 0 && refTraj.head._3 > 0)
    assert(eng.last._7 < eng.head._7,
      s"val loss must fall: ${eng.head._7} -> ${eng.last._7} micros")
    assert(eng.last._6 < eng.head._6,
      s"train loss must fall: ${eng.head._6} -> ${eng.last._6} micros")
    // q_c142: the one-shot TEST evaluation at the final holdout-trained
    // weights equals the reference fold over the untouched test split
    val testDocs = docs.filter(d => bucket(d.docId) >= 900L)
    assert(testDocs.nonEmpty, "the test split must be non-trivial")
    var (refLoss, refOk) = (BigInt(0), 0L)
    testDocs.foreach { doc =>
      val nD = math.max(doc.n, 1L).toDouble
      val m = doc.cnts.indices
        .foldLeft(0.0)((a, i) => a + doc.cnts(i).toDouble * w(i)) / nD + bias
      val p = 1.0 / (1.0 + math.exp(-m))
      val pc = math.min(math.max(p, 1e-12), 1.0 - 1e-12)
      refLoss += q((-(doc.y * math.log(pc) +
        (1L - doc.y) * math.log(1.0 - pc))) * 1e6, 0).toBigInt
      if ((m > 0) == (doc.y == 1L)) refOk += 1
    }
    val ev = SparkEntry.queries("q_c142_classifier_test_eval")(spark, sf).head()
    assert(ev.getLong(0) == testDocs.length.toLong)
    assert(ev.getLong(1) == refOk)
    assert(ev.getLong(2) == refOk * 1000L / testDocs.length)
    assert(ev.getLong(3) == refLoss.toLong,
      "test loss must equal the reference fold exactly")
    graft.core.CachedRdds.drain()
  }

  test("the persisted model artifact round-trips: stored weights serve q_c138 exactly") {
    val path = QualityClassifierTrainer.modelArtifact(spark, sf, iters)
    // the stored 65 doubles are the trained model's, bit-exactly
    val m = QualityClassifierTrainer.train(spark, sf, iters)
    val stored = spark.read.parquet(s"$path/weights")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(stored.size == D)
    (0 until D).foreach(b => assert(stored(b.toLong) == m.w(b),
      s"stored weight $b must be the trained weight, bit-exactly"))
    val meta = spark.read.parquet(s"$path/meta").head()
    assert(meta.getAs[Double]("w_bias") == m.wBias)
    assert(meta.getAs[Long]("iters") == iters.toLong)
    // scoring FROM the artifact ≡ scoring from the session cache, row
    // for row — the engine-neutrality claim's load side
    val fromStored = QualityClassifierTrainer.scoresFromArtifact(spark, sf, path)
      .collect().map(_.toString).toSeq
    val fromCache = SparkEntry.queries("q_c138_classifier_scores")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(fromStored.nonEmpty && fromStored == fromCache)
    graft.core.CachedRdds.drain()
  }

  test("q_c143 drift monitor: row equals the reference fold; alarm fires on a drifted batch") {
    val path = QualityClassifierTrainer.modelArtifact(spark, sf, iters)
    val docs = collectDocs()
    val (bias, w, _) = refTrain(docs)
    def marginOf(d: Doc): Double =
      d.cnts.indices.foldLeft(0.0)((a, i) =>
        a + d.cnts(i).toDouble * w(i)) / math.max(d.n, 1L).toDouble + bias
    // the engine's integer discipline: trunc-toward-zero micros, raw
    // sums, trunc-division means (Java long / ≡ Spark div ≡ DuckDB //)
    def stats(sub: Seq[Doc]): (Long, Long, Long) = {
      var (keep, msum) = (0L, 0L)
      sub.foreach { d =>
        val m = marginOf(d)
        if (m > 0) keep += 1
        msum += (m * 1e6).toLong
      }
      (sub.length.toLong, keep * 1000L / math.max(sub.length, 1L),
        msum / math.max(sub.length, 1L))
    }
    val (nb, kpmB, meanB) = stats(docs)
    val (nt, kpmT, meanT) = stats(docs.filter(_.docId % 10 == 3))
    val expAlarm =
      if (math.abs(kpmT - kpmB) >= QualityClassifierTrainer.driftKeepPmThreshold ||
          math.abs(meanT - meanB) >= QualityClassifierTrainer.driftMeanMicrosThreshold)
        1L else 0L
    val out = SparkEntry.queries("q_c143_model_drift")(spark, sf).head()
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) == ((nb, kpmB, meanB)),
      "baseline side must equal the reference fold")
    assert((out.getLong(3), out.getLong(4), out.getLong(5)) == ((nt, kpmT, meanT)),
      "batch side must equal the reference fold")
    assert(out.getLong(6) == kpmT - kpmB)
    assert(out.getLong(7) == meanT - meanB)
    assert(out.getLong(8) == expAlarm)
    assert(expAlarm == 0L,
      "the registered %10 batch must be in-distribution — a row that always alarms is dead")
    // A DRIFTED batch must fire. The trained model is all-drop on this
    // corpus (max weight + bias < 0), so NO constructible batch moves
    // the keep rate — the drift construction targets the margin MEAN:
    // single-token documents whose token hashes to the bucket FARTHEST
    // (in weight) from the training-time mean margin; each such doc
    // scores exactly w(b) + bias.
    val meanBase = meanB.toDouble / 1e6
    val bestB = w.indices.maxBy(b => math.abs(w(b) + bias - meanBase))
    val driftMicros = ((w(bestB) + bias) * 1e6).toLong - meanB
    assert(math.abs(driftMicros) >= QualityClassifierTrainer.driftMeanMicrosThreshold,
      s"a constructible batch must clear the mean-drift threshold (got $driftMicros)")
    def bucketOf(tok: String): Int =
      (tok.foldLeft(0L)((a, ch) => (a * 31 + ch.toLong) % 1000000007L) % 64).toInt
    val tok = Iterator.from(0).map(i => s"t$i").find(t => bucketOf(t) == bestB).get
    val sp = spark
    import sp.implicits._
    val batchDf = (1L to 10L).map(i => (1000000L + i, tok))
      .toDF("doc_id", "text")
    val rep = QualityClassifierTrainer.driftReport(spark, path, batchDf).head()
    assert(rep.getLong(5) == ((w(bestB) + bias) * 1e6).toLong,
      "constructed batch mean must be the bucket margin exactly")
    assert(rep.getLong(8) == 1L,
      s"the drifted batch must fire the alarm: delta_mean ${rep.getLong(7)}")
    graft.core.CachedRdds.drain()
  }

  test("q_c147 retrain-on-drift: both phases equal the reference fold; pre alarms, the refit learns the bucket") {
    val docs = collectDocs()
    val (bias, w, _) = refTrain(docs)
    def marginOf(d: Doc, b0: Double, ws: Array[Double]): Double =
      d.cnts.indices.foldLeft(0.0)((a, i) =>
        a + d.cnts(i).toDouble * ws(i)) / math.max(d.n, 1L).toDouble + b0
    def stats(sub: Seq[Doc], b0: Double, ws: Array[Double]): (Long, Long, Long) = {
      var (keep, msum) = (0L, 0L)
      sub.foreach { d =>
        val m = marginOf(d, b0, ws)
        if (m > 0) keep += 1
        msum += (m * 1e6).toLong
      }
      (sub.length.toLong, keep * 1000L / math.max(sub.length, 1L),
        msum / math.max(sub.length, 1L))
    }
    // reference drift construction — same integer-micro argmax as the engine
    val (_, _, meanB) = stats(docs, bias, w)
    val bStar = (0 until D).maxBy(b =>
      (math.abs(((w(b) + bias) * 1e6).toLong - meanB), -b))
    assert(QualityClassifierTrainer.driftBucket(spark,
      QualityClassifierTrainer.modelArtifact(spark, sf, iters)) == bStar)
    val tok = QualityClassifierTrainer.driftTokens(bStar)
    val sp = spark
    import sp.implicits._
    val batchDf = (1L to 50L).map(i => (10000000L + i, tok)).toDF("doc_id", "text")
    // batch features+labels via the shared featurize (the collectDocs
    // convention: engine features, INDEPENDENT training fold)
    val batchDocs = QualityClassifierTrainer.featurize(batchDf).collect().map { r =>
      Doc(r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3).toArray)
    }.toSeq
    val (bias2, w2, _) = refTrain(docs ++ batchDocs)
    def row(baseDocs: Seq[Doc], b0: Double, ws: Array[Double])
        : (Long, Long, Long, Long, Long, Long, Long, Long, Long) = {
      val (nb, kb, mb) = stats(baseDocs, b0, ws)
      val (nt, kt, mt) = stats(batchDocs, b0, ws)
      val alarm =
        if (math.abs(kt - kb) >= QualityClassifierTrainer.driftKeepPmThreshold ||
            math.abs(mt - mb) >= QualityClassifierTrainer.driftMeanMicrosThreshold)
          1L else 0L
      (nb, kb, mb, nt, kt, mt, kt - kb, mt - mb, alarm)
    }
    val expPre = row(docs, bias, w)
    val expPost = row(docs ++ batchDocs, bias2, w2)
    assert(expPre._9 == 1L,
      "the constructed batch must fire the alarm pre-retrain (else the row proves nothing)")
    val out = SparkEntry.queries("q_c147_retrain_on_drift")(spark, sf).collect()
    assert(out.length == 2 && out(0).getString(0) == "pre" && out(1).getString(0) == "post")
    Seq(out(0) -> expPre, out(1) -> expPost).foreach { case (r, e) =>
      val got = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9))
      assert(got == e, s"${r.getString(0)} row must equal the reference fold")
    }
    // the refit LEARNED the drift bucket: its weight moves in the
    // direction of the batch's teacher label (more negative for a
    // drop-labeled batch, more positive for keep)
    val yBatch = batchDocs.head.y
    assert(batchDocs.forall(_.y == yBatch))
    if (yBatch == 0L) assert(w2(bStar) < w(bStar),
      "a drop-labeled drift batch must push the bucket weight down")
    else assert(w2(bStar) > w(bStar),
      "a keep-labeled drift batch must push the bucket weight up")
    graft.core.CachedRdds.drain()
  }

  test("q_c138 scores are the reference model's margins, bit-exactly") {
    val docs = collectDocs()
    val (bias, w, _) = refTrain(docs)
    val byId = docs.map(d => d.docId -> d).toMap
    val out = SparkEntry.queries("q_c138_classifier_scores")(spark, sf).collect()
    assert(out.length == docs.length)
    out.foreach { r =>
      val d = byId(r.getLong(0))
      val m = d.cnts.indices.foldLeft(0.0)((a, i) =>
        a + d.cnts(i).toDouble * w(i)) / math.max(d.n, 1L).toDouble + bias
      assert(r.getDouble(3) == m, s"doc ${d.docId}: score ${r.getDouble(3)} != ref $m")
      assert(r.getString(4) == (if (m > 0) "keep" else "drop"))
      assert(r.getLong(5) == (if ((m > 0) == (d.y == 1L)) 1L else 0L))
    }
    graft.core.CachedRdds.drain()
  }
}
