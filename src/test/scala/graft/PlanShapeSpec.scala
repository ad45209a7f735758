package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the optimized-plan SHAPE of the queries fixed in round 8 for the
  * Generate per-element re-evaluation hazard (PERF.md): whole-stage
  * codegen defers a non-generator projection co-located with
  * explode/posexplode into the per-element output loop, so an expensive
  * expression beside a Generate re-runs once per array element. These
  * asserts fail if a refactor reintroduces the shape.
  */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.core.GraftSession.local(4, 4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def optimized(name: String): String = {
    val p = SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan.toString
    graft.core.CachedRdds.drain()
    p
  }

  private def generates(plan: String): Int =
    plan.linesIterator.count(_.contains("Generate "))

  test("q_c17 quantization is generator-free (per-row array folds)") {
    val plan = optimized("q_c17_embedding_quantize")
    assert(generates(plan) == 0, s"expected no Generate node:\n$plan")
    // the array_max projection must sit in its own Project, not inside a
    // higher-order lambda of the consuming expressions
    assert(plan.contains("array_max"))
  }

  test("q_c2 simhash has exactly one Generate (the token explode)") {
    val plan = optimized("q_c2_simhash")
    assert(generates(plan) == 1, s"expected exactly the token explode:\n$plan")
    // the 16 bit-sums ride one aggregation keyed by doc, not an exploded k
    assert(!plan.contains("sequence(0, 15)"),
      s"bit index re-explode reintroduced:\n$plan")
  }

  test("q_c4 LSH signature stays in its own Project below the Generate") {
    val plan = optimized("q_c4_embedding_neardup")
    // In the safe plan the signature is computed once per row in a Project
    // and the Generate references it only as a bound ATTRIBUTE (sig#N)
    // inside its generator input. The hazard shape inlines the function
    // call itself onto the Generate line (re-evaluated per band), so the
    // fn name must never appear there.
    val bad = plan.linesIterator
      .filter(l => l.contains("Generate ") && l.contains("hyperplanesignature"))
      .toSeq
    assert(bad.isEmpty, s"signature call inlined into Generate:\n${bad.mkString("\n")}")
    assert(plan.contains("hyperplanesignature"), "signature projection missing entirely")
  }

  private def executed(name: String): String =
    executedPlan(SparkEntry.queries(name)(spark, dir))

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.write.format("noop").mode("overwrite").save() // settle AQE final plan
    val p = df.queryExecution.executedPlan.toString
    graft.core.CachedRdds.drain()
    p
  }

  test("q_c24 benchmark n-gram join is broadcast (corpus never shuffles on ng)") {
    // q_c24 serves the decontam_report memo (a cached scan that hides the
    // join), so pin the plan of the report's own build
    val plan = executedPlan(
      graft.operators.PipelineQueries.decontamReportBuild(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark set must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join on n-grams reintroduced:\n$plan")
  }

  test("q_c25 prefix sum is block-structured (no per-source global window over docs)") {
    val plan = optimized("q_c25_sequence_pack")
    // the within-block running sum must partition by (source, blk) — every
    // window partition is ≤ 4096 rows by construction
    assert("windowspecdefinition\\(source#\\d+, blk#\\d+L?, doc_id#\\d+L? ASC".r
      .findFirstIn(plan).isDefined,
      s"bounded (source, blk) window missing:\n$plan")
    // the funnel shape: a window over the full doc stream partitioned by
    // source alone (one task per source at 100 TB)
    assert("windowspecdefinition\\(source#\\d+, doc_id#\\d+L? ASC".r
      .findFirstIn(plan).isEmpty,
      s"per-source global window over docs reintroduced:\n$plan")
    val phys = executed("q_c25_sequence_pack")
    assert(phys.contains("BroadcastHashJoin") && !phys.contains("SortMergeJoin"),
      s"block offsets must broadcast back:\n$phys")
  }

  test("q_b1 event canonicalization keeps column pruning (no props/event_id read)") {
    // EventTime appends t_us from ts; the scan must still prune to the
    // three consumed columns — a canonicalizer that forced a full-row
    // read would turn every event query into a full-table scan at 100 TB
    val plan = executed("q_b1_tumbling_window")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("ts") && read.contains("event_type") && read.contains("value"),
      s"expected ts/event_type/value in scan schema:\n$read")
    assert(!read.contains("props") && !read.contains("event_id"),
      s"unconsumed columns must prune from the scan:\n$read")
  }

  test("q_b4 as-of join stays union-stream (no join node, NULL-key filters pushed)") {
    val plan = executed("q_b4_asof_join")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"q_b4 must be the union-stream form, not a pair-amplifying join:\n$plan")
    assert(plan.contains("IsNotNull(user_id)"),
      s"events-leg NULL-key filter must reach the parquet scan:\n$plan")
    assert(plan.contains("IsNotNull(o_custkey)"),
      s"orders-leg NULL-key filter must reach the parquet scan:\n$plan")
  }

  test("q_c27 broadcasts the incoming batch; the corpus never shuffles on grams") {
    // the continual-ingestion asymmetry: new-batch grams and hashes are
    // the broadcast side; a SortMergeJoin here would shuffle the whole
    // retained corpus on 13-gram strings
    val plan = executed("q_c27_incremental_dedup")
    // the scale-critical joins are on the gram and hash keys: those must
    // build a broadcast side. (The final assembly left-joins on doc_id
    // merge 50-row new-batch frames — SMJ there is irrelevant at scale.)
    assert("BroadcastHashJoin \\[ng#".r.findFirstIn(plan).isDefined,
      s"gram join must broadcast the incoming batch:\n$plan")
    assert("BroadcastHashJoin \\[h#".r.findFirstIn(plan).isDefined,
      s"hash join must broadcast the incoming batch:\n$plan")
    assert("SortMergeJoin \\[(ng|h)#".r.findFirstIn(plan).isEmpty,
      s"corpus-side shuffle join on grams/hashes reintroduced:\n$plan")
  }

  test("q_c91 broadcasts the pair frame on both id joins (corpus never shuffles)") {
    // the provenance matrix's scale asymmetry: verified pairs are tiny
    // next to the corpus, so BOTH doc-id joins must build a broadcast
    // side from them; an SMJ on doc_a/doc_b would shuffle the corpus's
    // (doc_id, source) projection twice
    // (the AllPairs verify KERNEL inside verifiedJaccardPairs keeps its
    // own pair-frame SMJs — those join candidate id-pairs to candidate
    // id-pairs, never the corpus, so only the two outer joins are pinned)
    val plan = executed("q_c91_source_dup_matrix")
    assert("BroadcastHashJoin \\[doc_a#".r.findFirstIn(plan).isDefined,
      s"doc_a join must broadcast the pair frame:\n$plan")
    assert("BroadcastHashJoin \\[doc_b#".r.findFirstIn(plan).isDefined,
      s"doc_b join must broadcast the pair+source frame:\n$plan")
  }

  test("q_c27 declared broadcast flips to a shuffle past the size ceiling") {
    // The batch-side hint is a size-conditional DECLARATION (round 12):
    // under the default 64 MB ceiling the sf0.001 batch estimate fits and
    // both scale joins carry the hint; with the ceiling forced to 0 the
    // declared plan must stop promising a broadcast it couldn't keep
    // (AQE remains free to broadcast at runtime from real stats).
    val plan0 = optimized("q_c27_incremental_dedup")
    assert(plan0.linesIterator.count(_.contains("strategy=broadcast")) >= 2,
      s"default ceiling: gram and hash joins must declare broadcast:\n$plan0")
    spark.conf.set("spark.graft.broadcastBytes", "0")
    try {
      val plan1 = optimized("q_c27_incremental_dedup")
      assert(!plan1.contains("strategy=broadcast"),
        s"ceiling 0: no declared broadcast may remain:\n$plan1")
    } finally spark.conf.unset("spark.graft.broadcastBytes")
  }

  test("q_c26 declares no broadcast of the vocab; only the 1-row total is hinted") {
    // the unigram vocab is corpus-sized state: a DECLARED broadcast of it
    // is the 100 TB failure mode. At test SF, AQE legitimately converts
    // the tiny term join to a runtime broadcast — so the pin is on the
    // optimized logical plan's hints, not the AQE-final physical choice:
    // exactly one broadcast hint (the scalar total), none on the term join.
    val plan = optimized("q_c26_unigram_logprob")
    val hinted = plan.linesIterator.filter(_.contains("strategy=broadcast")).toSeq
    assert(hinted.size == 1 && hinted.head.contains("Join Cross"),
      s"only the 1-row total cross join may carry a broadcast hint:\n$plan")
    assert("Join Inner, \\(term#\\d+ = term#\\d+\\)$".r
      .findFirstIn(plan.linesIterator.map(_.trim.stripPrefix(":- ").stripPrefix("+- ")).mkString("\n")).isDefined ||
      plan.contains("= term#"),
      s"term-keyed vocab join missing:\n$plan")
  }

  test("q_c26 tokenizes the corpus once (memoized tf shared by all consumers)") {
    // dl/vocab/scored all derive from the same memoized (doc, term) tf
    // frame — three independent tokenization passes over 100 TB is the
    // regression this pins against (plain plan sharing can't dedupe
    // them: each consumer pushes different IsNotNull filters into its
    // scan subtree, defeating ReuseExchange). The SessionMemo serves tf
    // as a lineage-truncated owned-RDD leaf, so the query plan must show
    // ONLY ExistingRDD leaves — any parquet FileScan means a consumer
    // rebuilt the tokenization from source.
    val df = SparkEntry.queries("q_c26_unigram_logprob")(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    val rddScans = plan.linesIterator.count(_.contains("Scan ExistingRDD"))
    val fileScans = plan.linesIterator.count(_.contains("Scan parquet"))
    graft.core.SessionMemo.evict(spark)
    graft.core.CachedRdds.drain()
    assert(rddScans >= 3,
      s"expected >= 3 ExistingRDD readers of the memoized tf, got $rddScans:\n$plan")
    assert(fileScans == 0,
      s"a consumer re-tokenized from the parquet source:\n$plan")
  }

  test("q_c54 declares the panel broadcast and flips to a shuffle past the ceiling") {
    // the Sizing discipline (the q_c27 class): the bounded query panel is
    // the declared broadcast side of the term join; at ceiling 0 the
    // declaration must drop rather than promise an OOM
    // the 1-row corpus-count cross join is ALWAYS hinted (the q_c26
    // scalar-total pattern); the size-conditional hint under test is the
    // PANEL side of the term join
    def panelHints(plan: String): Int = plan.linesIterator
      .count(l => l.contains("strategy=broadcast") && !l.contains("Join Cross"))
    val plan0 = optimized("q_c54_tfidf_similarity")
    assert(panelHints(plan0) >= 1,
      s"default ceiling: the panel join must declare broadcast:\n$plan0")
    spark.conf.set("spark.graft.broadcastBytes", "0")
    try {
      val plan1 = optimized("q_c54_tfidf_similarity")
      assert(panelHints(plan1) == 0,
        s"ceiling 0: no declared panel broadcast may remain:\n$plan1")
    } finally spark.conf.unset("spark.graft.broadcastBytes")
    graft.core.SessionMemo.evict(spark)
  }

  test("q_c55 has exactly one Generate (the gram explode)") {
    // novelty computes over per-doc DISTINCT grams after one explode; a
    // second Generate would mean positional amplification leaked back in
    val plan = optimized("q_c55_ngram_novelty")
    assert(generates(plan) == 1, s"expected exactly 1 Generate:\n$plan")
  }

  test("q_c56 windows partition by (epoch, batch_id), never epoch-wide") {
    // the scale-correct shuffle: ranks run in 128 fine-grained windows;
    // an epoch-wide window (2 partitions for the whole corpus) is the
    // regression this pins against
    val plan = optimized("q_c56_epoch_shuffle")
    val windowLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, s"expected a Window node:\n$plan")
    windowLines.foreach { l =>
      assert(l.contains("batch_id"),
        s"window must partition by (epoch, batch_id), not epoch alone:\n$l")
    }
  }
}
