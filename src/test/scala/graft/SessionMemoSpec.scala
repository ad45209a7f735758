package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat_ws, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SessionMemo

/** Snapshot keying and reuse of [[graft.core.SessionMemo]]:
  *
  *  - a repeat invocation of q_b6 (whose garr build is memoized) in one
  *    session must NOT rebuild the dictionary/garr pipeline — the build
  *    closure runs once and the memo hands back the same persisted frame
  *    (skipping the explode scan, rarity sort, sizes job, and
  *    dictionary-encode shuffle the build runs eagerly);
  *  - rewriting the documents fixture AT THE SAME PATH must invalidate the
  *    entry (mtime/length snapshot) and rebuild with results reflecting
  *    the new data — the round-8 stale-memo watch item;
  *  - the MinHash candidate memo shares the same snapshot guard;
  *  - value and stored entries are JVM-wide: they survive a frame
  *    owner's eviction but not a snapshot change.
  */
class SessionMemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = s"/tmp/graft_memo_spec_${System.nanoTime()}"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-sessionmemo-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    val root = new java.io.File(dir)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(root)
  }

  /** Write a documents fixture; texts differ in length between versions so
    * the (mtime, length) snapshot is guaranteed to change even on a
    * filesystem with coarse mtime granularity.
    */
  private def writeDocs(rows: Seq[(Long, String, String)]): Unit = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private val baseDocs = Seq(
    (1L, "web", "the quick brown fox jumps over the lazy dog"),
    (2L, "web", "the quick brown fox jumps over the lazy dog"),
    (3L, "web", "entirely different words compose this third document body"))

  private def runB6(): Seq[(Long, Long)] =
    SparkEntry.queries("q_b6_jaccard_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("repeat q_b6 reuses the memoized garr; fixture rewrite rebuilds") {
    writeDocs(baseDocs)
    val b0 = SessionMemo.buildCount("garr_word_shingle")
    val first = runB6()
    assert(first == Seq((1L, 2L)), s"identical docs 1,2 must pair: $first")
    assert(SessionMemo.buildCount("garr_word_shingle") == b0 + 1)
    assert(SessionMemo.occupied("garr_word_shingle"))

    // same session, same fixture → memo hit: build closure NOT re-run
    val second = runB6()
    assert(second == first)
    assert(SessionMemo.buildCount("garr_word_shingle") == b0 + 1,
      "repeat invocation must not rebuild the garr pipeline")

    // rewrite AT THE SAME PATH with different content → snapshot mismatch
    // → rebuild, and the output must reflect the new corpus
    writeDocs(baseDocs :+
      (4L, "web", "entirely different words compose this third document body"))
    val third = runB6()
    assert(SessionMemo.buildCount("garr_word_shingle") == b0 + 2,
      "fixture rewrite at the same path must invalidate the memo")
    assert(third == Seq((1L, 2L), (3L, 4L)), s"new duplicate must appear: $third")
  }

  test("minhash candidate memo rebuilds on fixture rewrite too") {
    writeDocs(baseDocs)
    val b0 = SessionMemo.buildCount("minhash_cand")
    val first = SparkEntry.queries("q_c1_minhash_lsh")(spark, dir).collect()
    assert(SessionMemo.buildCount("minhash_cand") == b0 + 1)
    SparkEntry.queries("q_c1_minhash_lsh")(spark, dir).collect()
    assert(SessionMemo.buildCount("minhash_cand") == b0 + 1, "hit must not rebuild")

    writeDocs(baseDocs.map { case (id, src, t) => (id, src, t + " padded tail") })
    SparkEntry.queries("q_c1_minhash_lsh")(spark, dir).collect()
    assert(SessionMemo.buildCount("minhash_cand") == b0 + 2,
      "rewrite must invalidate the candidate memo")
    assert(first.nonEmpty)
  }

  test("size budget: an oversized frame moves to the disk tier, a fitting one stays in memory") {
    val sp = spark
    import sp.implicits._
    writeDocs(baseDocs)
    try {
      // ~3 MB of rows vs a 64 KB budget: the frame must NOT hold storage
      // blocks (the q_c3 scale10 displacement, PERF.md r10) but must
      // still be reusable without rebuilding — served from a parquet
      // spill under the memo's session-local disk root
      spark.conf.set("spark.graft.memo.maxBytes", (64 * 1024).toString)
      val big = SessionMemo.getOrBuild(spark, "budget_big", dir, Seq(s"$dir/documents.parquet")) {
        spark.range(100000).select(col("id"), concat_ws("-", lit("x" * 24), col("id")).as("t"))
      }
      assert(big.count() == 100000L)
      assert(SessionMemo.occupied("budget_big"),
        "an over-budget frame must be memoized on the disk tier")
      val spill = SessionMemo.heldOnDisk("budget_big")
      assert(spill.isDefined, "over-budget entry must live on disk, not in memory")
      assert(new java.io.File(spill.get).exists())
      assert(!spark.sparkContext.getRDDStorageInfo
          .exists(i => i.memSize + i.diskSize > 64 * 1024),
        "disk-tier admission must free the over-budget build's persisted blocks")
      // a second call is a HIT: same rows, no rebuild
      val again = SessionMemo.getOrBuild(spark, "budget_big", dir, Seq(s"$dir/documents.parquet")) {
        spark.range(10).toDF("id")
      }
      assert(again.count() == 100000L)
      assert(SessionMemo.buildCount("budget_big") == 1L,
        "disk-tier hit must not rebuild the pipeline")
      // eviction deletes the spill file
      SessionMemo.evict(spark)
      assert(!new java.io.File(spill.get).exists(),
        "evicting a disk-tier entry must delete its spill")

      // a small frame fits and is held in memory, measured
      val small = SessionMemo.getOrBuild(spark, "budget_small", dir, Seq(s"$dir/documents.parquet")) {
        spark.range(100).toDF("id")
      }
      assert(small.count() == 100L)
      assert(SessionMemo.occupied("budget_small"))
      assert(SessionMemo.heldOnDisk("budget_small").isEmpty)
      assert(SessionMemo.heldBytes("budget_small").exists(b => b > 0L && b <= 64 * 1024))
    } finally {
      spark.conf.unset("spark.graft.memo.maxBytes")
      graft.core.CachedRdds.drain()
      SessionMemo.evict(spark)
    }
  }

  test("disk tier (default): a stale spill is rebuilt and replaced") {
    val sp = spark
    import sp.implicits._
    writeDocs(baseDocs)
    try {
      spark.conf.set("spark.graft.memo.maxBytes", (64 * 1024).toString)
      SessionMemo.getOrBuild(spark, "disk_inval", dir, Seq(s"$dir/documents.parquet")) {
        spark.range(100000).select(col("id"), concat_ws("-", lit("a" * 24), col("id")).as("t"))
      }.count()
      val b0 = SessionMemo.buildCount("disk_inval")
      val spill0 = SessionMemo.heldOnDisk("disk_inval").get
      // rewrite the fixture → snapshot mismatch → rebuild, old spill replaced
      writeDocs(baseDocs.map { case (id, src, t) => (id, src, t + " tail") })
      val fresh = SessionMemo.getOrBuild(spark, "disk_inval", dir, Seq(s"$dir/documents.parquet")) {
        spark.range(50000).select(col("id"), concat_ws("-", lit("b" * 24), col("id")).as("t"))
      }
      assert(fresh.count() == 50000L)
      assert(SessionMemo.buildCount("disk_inval") == b0 + 1)
      assert(!new java.io.File(spill0).exists(),
        "stale spill must be deleted on invalidation")

      // DEFAULT: the disk tier needs no option on a local master — the
      // clean-window scale10 A/B measured spill-serve pass B 5.5x faster
      // than drop-and-rebuild (PERF.md round 12)
      SessionMemo.getOrBuild(spark, "disk_default", dir, Seq(s"$dir/documents.parquet")) {
        spark.range(100000).select(col("id"), concat_ws("-", lit("c" * 24), col("id")).as("t"))
      }.count()
      assert(SessionMemo.heldOnDisk("disk_default").isDefined,
        "default: an over-budget frame must be memoized on the disk tier")
    } finally {
      spark.conf.unset("spark.graft.memo.maxBytes")
      graft.core.CachedRdds.drain()
      SessionMemo.evict(spark)
    }
  }

  test("size budget: oldest memory-tier entry is DEMOTED to the disk tier, not dropped") {
    val sp = spark
    import sp.implicits._
    writeDocs(baseDocs)
    try {
      // each entry ~tens of KB; budget sized to hold roughly one of them
      val dfA = SessionMemo.getOrBuild(spark, "budget_a", dir, Seq(s"$dir/documents.parquet")) {
        spark.range(2000).select(col("id"), concat_ws("-", lit("y" * 16), col("id")).as("t"))
      }
      val rowsA = dfA.collect().map(_.toString).sorted.toSeq
      val one = SessionMemo.heldBytes("budget_a").get
      spark.conf.set("spark.graft.memo.maxBytes", (one + one / 2).toString)
      SessionMemo.getOrBuild(spark, "budget_b", dir, Seq(s"$dir/documents.parquet")) {
        spark.range(2000).select(col("id"), concat_ws("-", lit("z" * 16), col("id")).as("t"))
      }.count()
      SessionMemo.awaitDemotions() // demotion spills run async off the admit path
      assert(SessionMemo.occupied("budget_b"), "the newest entry must be kept")
      assert(SessionMemo.heldOnDisk("budget_b").isEmpty,
        "the under-budget newest entry stays on the memory tier")
      // round 15 (VERDICT r13 lead 5): the evicted oldest entry demotes
      // to the disk tier — spilled once, blocks freed, still served
      val spill = SessionMemo.heldOnDisk("budget_a")
      assert(spill.isDefined,
        "the evicted oldest entry must DEMOTE to the disk tier, not drop")
      assert(new java.io.File(spill.get).exists(), "demotion spill must be on disk")
      val builds0 = SessionMemo.buildCount("budget_a")
      val served = SessionMemo.getOrBuild(spark, "budget_a", dir, Seq(s"$dir/documents.parquet")) {
        fail("a demoted entry must serve from the spill, not rebuild")
      }
      assert(served.collect().map(_.toString).sorted.toSeq === rowsA,
        "spill-served rows must be identical to the original build")
      assert(SessionMemo.buildCount("budget_a") === builds0)
    } finally {
      spark.conf.unset("spark.graft.memo.maxBytes")
      graft.core.CachedRdds.drain()
      SessionMemo.evict(spark)
    }
  }

  test("value and stored entries outlive their frame owner's eviction and rebuild on a snapshot change") {
    writeDocs(baseDocs)
    val inputs = Seq(s"$dir/documents.parquet")
    var valueBuilds = 0
    var storedBuilds = 0
    def value(s: SparkSession): Int =
      SessionMemo.value(s, "spec_value", dir, inputs) { valueBuilds += 1; valueBuilds }
    def stored(s: SparkSession): String =
      SessionMemo.stored(s, "spec-stored", dir, inputs) { p =>
        storedBuilds += 1
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p, "part"), "x")
      }
    val other = spark.newSession()
    try {
      SessionMemo.getOrBuild(spark, "spec_frame", dir, inputs)(spark.range(10).toDF("id")).count()
      val v1 = value(spark)
      val p1 = stored(spark)
      // the frame goes with its owner; values and stored paths are
      // JVM-wide, so they survive it and serve any session
      SessionMemo.evict(spark)
      assert(!SessionMemo.occupied("spec_frame"), "evict must drop the owner's frame")
      assert(value(spark) == v1 && value(other) == v1 && valueBuilds == 1,
        "a value must survive its builder session's eviction")
      assert(stored(spark) == p1 && stored(other) == p1 && storedBuilds == 1,
        "a stored path must survive its builder session's eviction")
      assert(new java.io.File(p1, "part").exists())
      // a rewrite of the input changes the snapshot: both rebuild once
      writeDocs(baseDocs.map { case (id, src, t) => (id, src, t + " rewritten") })
      assert(value(other) == 2 && value(spark) == 2 && valueBuilds == 2,
        "a snapshot change must rebuild the value exactly once")
      val p2 = stored(other)
      assert(p2 != p1 && stored(spark) == p2 && storedBuilds == 2,
        "a snapshot change must rebuild the stored entry exactly once")
      // naming a kind in evict drops it JVM-wide
      SessionMemo.evict(other, "spec_value", "spec-stored")
      assert(value(spark) == 3 && stored(spark) != p2 && storedBuilds == 3)
    } finally {
      SessionMemo.evict(spark, "spec_value", "spec-stored")
    }
  }
  test("working-set warning fires once when cumulative admissions cross the budget, never under it") {
    writeDocs(baseDocs)
    // fresh sessions: the latch and counter are per-session, and the
    // suite's shared session has already accumulated admissions
    val roomy = spark.newSession()
    val tight = spark.newSession()
    try {
      // plenty of budget: two builds, no warning
      roomy.conf.set("spark.graft.memo.maxBytes", (256L * 1024 * 1024).toString)
      Seq("ws_r1", "ws_r2").foreach { k =>
        SessionMemo.getOrBuild(roomy, k, dir, Seq(s"$dir/documents.parquet")) {
          roomy.range(1000).toDF("id")
        }.count()
      }
      assert(SessionMemo.sessionWorkingSet(roomy) > 0L)
      assert(!SessionMemo.budgetWarned(roomy),
        "an under-budget working set must not warn")
      // tight budget: each entry fits alone, but the SECOND admission
      // pushes the running total over — exactly the r15 scale10 shape
      // (working set 1.17 GB vs a 1 GB budget) the warning exists for
      val one = {
        SessionMemo.getOrBuild(tight, "ws_probe", dir, Seq(s"$dir/documents.parquet")) {
          tight.range(1000).toDF("id")
        }.count()
        SessionMemo.heldBytes("ws_probe").get
      }
      tight.conf.set("spark.graft.memo.maxBytes", (one + one / 2).toString)
      Seq("ws_t1", "ws_t2").foreach { k =>
        SessionMemo.getOrBuild(tight, k, dir, Seq(s"$dir/documents.parquet")) {
          tight.range(1000).toDF("id")
        }.count()
      }
      assert(SessionMemo.sessionWorkingSet(tight) > one + one / 2,
        "fixture must actually cross the budget")
      assert(SessionMemo.budgetWarned(tight),
        "crossing the budget must raise the under-provisioning warning")
      // ADVICE round 16: a RE-BUILD of an already-counted key (here:
      // after an eviction) must REPLACE its size in the working set,
      // not add to it — the counter reports the simultaneous set, not
      // cumulative admissions across a long multi-rebuild session
      val before = SessionMemo.sessionWorkingSet(tight)
      SessionMemo.evict(tight)
      SessionMemo.getOrBuild(tight, "ws_t1", dir, Seq(s"$dir/documents.parquet")) {
        tight.range(1000).toDF("id")
      }.count()
      assert(SessionMemo.sessionWorkingSet(tight) == before,
        s"same-key rebuild must not grow the working set " +
          s"($before -> ${SessionMemo.sessionWorkingSet(tight)})")
    } finally {
      graft.core.CachedRdds.drain()
      SessionMemo.awaitDemotions()
      SessionMemo.evict(roomy)
      SessionMemo.evict(tight)
    }
  }

}
