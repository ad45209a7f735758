package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gate for the heavy query set, adjudicated by SPARK
  * JOB COUNT rather than wall-clock: under the gVisor sandbox, wall times on
  * scheduler-bound queries swing ±4 s across identical binaries, but the
  * number of jobs an action fans out into is deterministic for a fixed plan
  * (round 10 used exactly this signal to catch a star-CC change that doubled
  * the production job count while the spec fixture improved, and to find the
  * memo displacement at scale10 — see PERF.md).
  *
  * Each query runs COLD (session memo evicted, cached RDDs drained) at
  * sf0.001 in a bench-like session (AQE on). Ceilings are measured-cold
  * counts + ~25 % slack for AQE stage-planning drift: a creeping extra
  * action per round / per stage (the class of regression this gate exists
  * for) adds far more than 25 %.
  */
class JobCountGateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-jobgate-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Measured-cold job counts in THIS spec environment (local[8], sf0.001,
    * collect sink) + slack. Not the bench artifact's sf0.1 numbers — the
    * gate pins the plan shape, which is scale-free; absolute counts differ
    * with AQE decisions per SF.
    */
  private val ceilings: Seq[(String, Int)] = Seq(
    "q_b6_jaccard_neardup" -> 23,   // measured 18 cold (×2 runs, identical)
    "q_c3_ngram_jaccard" -> 23,     // measured 18
    "q_c9_ann_ivf" -> 19,           // measured 15
    "q_c13_dup_clusters" -> 38,     // measured 30
    "q_c19_neardup_retained" -> 40, // measured 32
    "q_c26_unigram_logprob" -> 22,  // measured 17
    "q_c27_incremental_dedup" -> 19, // measured 15
    "q_c29_semantic_dedup" -> 17,   // measured 16 (r18 — the scan-spread
                                    // exchange on embeddings adds AQE
                                    // stages; the spread wins the wall
                                    // clock, see OPTIMIZATION_r18.md)
    "q_c30_quality_classifier" -> 7, // measured 5 (map-only + sort sample + cls_raw memo build)
    "q_c31_rules_filter" -> 5,      // measured 4
    "q_c33_bpe_train" -> 24,        // measured 19 (15 argmax rounds + init, AQE off in-loop)
    "q_c34_bpe_encode" -> 25,       // measured 20 (training + one encode projection)
    "q_c35_bpe_dropout" -> 25,      // measured 20 (training + one two-encoder projection)
    "q_c36_dsir_resample" -> 21,    // measured 17 (tfb build + λ aggregates + top-k)
    "q_c39_unigram_train" -> 13,    // measured 10 (wf + seed collects + 3 EM rounds)
    "q_c40_unigram_encode" -> 14,   // measured 11 (cold training + one encode projection)
    "q_c42_wordpiece_train" -> 45,  // measured 36 (15 rounds x ~2.4: argmax + executeTake rescan)
    "q_c43_wordpiece_encode" -> 50, // measured 40 (cold training + one encode projection)
    "q_c44_bigram_logprob" -> 25,   // measured 20 (two memo builds + 4-join scoring)
    "q_c47_fuzzy_decontaminate" -> 24, // measured 19 (sig pipeline + broadcast bench sides)
    "q_c48_substr_dedup" -> 13,     // measured 10 (gram count + per-doc interval-union fold)
    "q_c49_quality_ensemble" -> 23, // measured 18 (fused map-side scan + memoized ppl branch)
    "q_c54_tfidf_similarity" -> 26, // measured 21 (tf memo + idf/norm aggs + panel join + top-k)
    "q_c55_ngram_novelty" -> 12,    // measured 9 (gram count + first-occurrence join)
    "q_c61_bloom_ingest" -> 12,     // measured 9 (bloom treeAggregate + survivor broadcast + confirm)
    "q_c64_leakage_split" -> 41,    // measured 33 (shared minhash frame + star-CC + split join)
    "q_c75_winnow_fingerprint" -> 9, // measured 7 (fp fold + df prune window + pair agg)
    "q_c76_ppl_buckets" -> 24,      // measured 19 (docNll branch + per-lang cuts + bucket join)
    "q_c77_pmi_collocations" -> 17, // measured 13 (pair agg + 2 vocab joins + top-k)
    "q_c78_containment_decon" -> 10, // measured 8 (bench shingle broadcasts + pair agg)
    "q_c80_kn_bigram_lm" -> 17,     // measured 13 (bigram-type aggs + fan-out joins + top-k)
    "q_c84_kn_heldout_ppl" -> 24,   // measured 19 (train-side type aggs + ladder joins)
    "q_c85_candidate_agreement" -> 38, // measured 30 (three generators + mask contingency)
    "q_c86_family_agreement" -> 96,   // measured 77 cold (two CC fixpoint builds; warm serves both from parquet)
    "q_c87_kn_trigram_ppl" -> 34,     // measured 27 (both model orders' type aggs + 5 ladder joins)
    "q_c88_lsh_recall" -> 38,         // measured 30 (cold candidate + verified-pair pipelines + 6-row agg)
    "q_c91_source_dup_matrix" -> 28,  // measured 22 (verified-pair pipeline + two broadcast source joins)
    "q_c92_minhash_estimator" -> 30,  // measured 24 (pair pipeline + signature joins + decile agg)
    "q_c93_source_centroid_drift" -> 18, // measured 14 (explode agg + centroid self-join + norm joins)
    "q_c98_drift_alarm" -> 24,        // measured 19 (two centroidFrames halves + alarm tail joins)
    "q_c99_doremi_weights" -> 35,     // measured 28 (cold tf memo + KL pipeline once via persisted j + 2 totals)
    "q_c100_dedup_threshold_curve" -> 39, // measured 31 (cold AllPairs pipeline via persisted jp + 2 taus aggs)
    "q_c102_score_calibration" -> 23,  // measured 18 (q_c49's fused scan + ppl branch + 10-key agg)
    "q_c105_family_diameter" -> 65,    // measured 52 cold (candidate + CC + AllPairs bases all rebuilt)
    "q_c110_tokenizer_fertility" -> 76, // measured 61 cold (all THREE trainers retrain; warm 5)
    "q_c114_family_quality" -> 60,     // measured 48 cold (candidate + CC + cls_raw bases; warm 9)
    "q_c116_quality_retained" -> 59,   // measured 47 cold (same bases + argmax window; warm 8)
    "q_c117_pipeline_funnel" -> 51,    // measured 41 cold (candidate + CC + decontam bases; warm 13)
    "q_c118_funnel_corpus" -> 50,      // measured 40 cold (same bases, emission tail; warm 12)
    "q_c119_quality_funnel_corpus" -> 55,  // measured 44 cold (q_c118 bases + cls_raw for the argmax)
    "q_c120_lsh_band_grid" -> 41,          // measured 33 cold (sig index + AllPairs bases + one keyed
                                           // pass over the 6 grid points; 58 when each point ran its own plan)
    "q_c132_ivf_nprobe_frontier" -> 85,    // measured 68 cold (int8 segment + compacted index builds,
                                           // truth scan, one keyed pass over the 5 nprobe points);
                                           // 34 when an earlier suite in the JVM built the index

    "q_c94_kn_trigram_lm" -> 26,      // measured 21 (both orders' type aggs + top-100 fan-out joins)
    "q_c95_winnow_calibration" -> 50, // measured 40 (3 winnow folds + exact-pair base + recall joins)
    "q_c121_funnel_mixture_drift" -> 55, // measured 44 cold (q_c117 bases + token agg + totals broadcast)
    "q_c122_export_shard_plan" -> 10, // measured 8 cold (two assignment branches + 16-row agg)
    "q_c124_export_manifest" -> 8,    // measured 6 cold (one scan + snake window + 8-row agg)
    "q_c125_manifest_diff" -> 9,      // measured 7 cold (one scan + two digest aggs + 8-row join)
    "q_c126_ingest_quality_gate" -> 9 // measured 7 cold (one rules scan + 2-row agg + stack)
  )

  /** The JVM-wide memo kinds a cold run must rebuild: the BPE, Unigram and
    * WordPiece models, the q_c61 Bloom bits and the CC/winnow families.
    * (The session's frames are evicted along with them.)
    */
  private val coldKinds = Seq(
    "bpe_merges", "unigram_vocab", "wordpiece_vocab", "bloom_bits", "cc-fam", "wn-fam")

  test("cold job counts for the heavy set stay under their ceilings") {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val measured = for ((name, ceiling) <- ceilings) yield {
        // cold state: no memo hits, no cached vocab RDDs from a prior
        // query, no cached trained model (its training jobs are part of
        // the gated plan shape)
        graft.core.SessionMemo.evict(spark, coldKinds: _*)
        graft.core.CachedRdds.drain()
        // deterministic drain of the async listener bus: a fixed sleep can
        // leak a prior query's job-start events into this window
        org.apache.spark.GraftSparkTestAccess.drainListenerBus(spark.sparkContext)
        val before = counter.get()
        val n = SparkEntry.queries(name)(spark, sf).collect().length
        org.apache.spark.GraftSparkTestAccess.drainListenerBus(spark.sparkContext)
        val jobs = counter.get() - before
        assert(n > 0 || name == "q_c4_embedding_neardup", s"$name: empty result")
        info(s"$name: $jobs jobs (ceiling $ceiling)")
        (name, jobs, ceiling)
      }
      graft.core.CachedRdds.drain()
      // every evicted kind was rebuilt by some gated query, so none of the
      // names above is stale (a stale name would silently warm the runs)
      val unbuilt = coldKinds.filter(k => graft.core.SessionMemo.buildCount(k) == 0L)
      assert(unbuilt.isEmpty, s"cold-reset kinds never built: ${unbuilt.mkString(", ")}")
      val over = measured.filter { case (_, jobs, ceiling) => jobs > ceiling }
      assert(over.isEmpty,
        s"job-count regressions: ${over.map(t => s"${t._1}=${t._2}>${t._3}").mkString(", ")}")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
