package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ContentId, SessionMemo}

/** Regression coverage for the round-13 advisor findings: the
  * build-once latch of [[SessionMemo]] (duplicate concurrent trainings),
  * the 64-bit model-bound function names (silent 31-bit collision
  * rebinding), and the q_c50 OLS degenerate-corpus guard (0/0 fit on
  * <= 1 distinct term). The bigram-table capacity guard is pinned through
  * its helper in TokenRepStatsSpec.
  */
class AdviceFixesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-advice-fixes-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** A one-file memo input; rewriting it with new content changes its
    * content snapshot.
    */
  private def memoInput(content: String): String = {
    val f = java.nio.file.Files.createTempFile("graft-memo-input", ".txt")
    java.nio.file.Files.writeString(f, content)
    f.toFile.deleteOnExit()
    f.toString
  }

  test("SessionMemo.value: concurrent first callers share ONE build") {
    val in = memoInput("v1")
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    def get(): Int = SessionMemo.value(spark, "advice_once", "k", Seq(in)) {
      Thread.sleep(50) // widen the race window
      builds.incrementAndGet()
    }
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        start.await()
        results.add(get())
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(builds.get() === 1, "concurrent first callers must share one build")
    assert(results.size === 4 && results.stream().allMatch(_ == 1))
    // a snapshot change rebuilds exactly once more
    java.nio.file.Files.writeString(java.nio.file.Paths.get(in), "version 2")
    assert(get() === 2)
    assert(get() === 2)
    SessionMemo.evict(spark, "advice_once")
  }

  test("model-bound function names are 64-bit (seed high bits distinguish)") {
    // pre-widening, BpeEncodeTokens folded only seed.toInt into the name:
    // two models differing only in the seed's HIGH 32 bits collided and
    // the second registration silently rebound the first name
    val merges = Seq(("a", "b"), ("ab", "c"))
    val n0 = graft.functions.BpeEncodeTokens.register(spark, merges, 100, seed = 7L)
    val nHi = graft.functions.BpeEncodeTokens.register(
      spark, merges, 100, seed = 7L | (1L << 35))
    assert(n0 !== nHi, "seed high bits must distinguish registered names")
    // idempotence: same content re-registers the same name
    assert(graft.functions.BpeEncodeTokens.register(spark, merges, 100, 7L) === n0)
    // the widened ids are full 64-bit hex, not 31-bit
    val h = ContentId.hex64(Int.MinValue, Int.MinValue)
    assert(java.lang.Long.parseUnsignedLong(h, 16) === 0x8000000080000000L)
  }

  test("q_c50 emits NULL fit columns on a degenerate (1-term) corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-degen").toString
    val s = spark
    import s.implicits._
    Seq((1L, "aaa aaa aaa"), (2L, "aaa"))
      .toDF("doc_id", "text")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_c50_zipf_fit")(spark, dir).collect()
    assert(rows.length === 1) // one distinct term => one ranked row
    val r = rows.head
    assert(r.getAs[Long]("n_terms") === 1L)
    assert(r.isNullAt(r.fieldIndex("slope")), "slope must be NULL, not NaN")
    assert(r.isNullAt(r.fieldIndex("intercept")), "intercept must be NULL, not NaN")
    graft.core.LocalArtifacts.deleteRecursively(dir)
  }

  // ---- round-14 advisor findings ------------------------------------------

  private def inFlightSize(): Int = {
    val f = SessionMemo.getClass.getDeclaredField("inFlight")
    f.setAccessible(true)
    f.get(SessionMemo).asInstanceOf[java.util.concurrent.ConcurrentHashMap[_, _]].size
  }

  test("build-once latches are pruned after the build settles (no per-key growth)") {
    val in = memoInput("latch")
    (1 to 100).foreach(i => SessionMemo.value(spark, "latch_value", s"k$i", Seq(in))(i))
    assert(inFlightSize() === 0,
      "value keys must not retain one latch per historical key")
    (1 to 5).foreach(i => SessionMemo.stored(spark, "latch-stored", s"k$i", Seq(in))(_ => ()))
    assert(inFlightSize() === 0,
      "stored keys must not retain one latch per historical key")
    (1 to 3).foreach { i =>
      SessionMemo.getOrBuild(spark, "latch_frame", s"k$i", Seq(in))(spark.range(i).toDF("id"))
    }
    assert(inFlightSize() === 0,
      "frame keys must not retain one latch per historical key")
    SessionMemo.evict(spark, "latch_value", "latch-stored")
  }

  test("SessionMemo.stored: a failed build defers deleting its dir") {
    val in = memoInput("fail")
    var failedPath: String = null
    val e = intercept[RuntimeException] {
      SessionMemo.stored(spark, "failbuild-test", "k", Seq(in)) { p =>
        failedPath = p
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(p, "partial.bin"), "half-written")
        throw new RuntimeException("build died mid-write")
      }
    }
    assert(e.getMessage === "build died mid-write")
    // the partial directory is registered for exit-time reclamation
    val lo = graft.core.LocalArtifacts
    val f = lo.getClass.getDeclaredField("deferred")
    f.setAccessible(true)
    val deferred = f.get(lo).asInstanceOf[scala.collection.mutable.ArrayBuffer[String]]
    assert(deferred.synchronized(deferred.contains(failedPath)),
      "partial build directory must be scheduled for deletion")
    // and the failure is not cached: a retry re-runs the build
    val ok = SessionMemo.stored(spark, "failbuild-test", "k", Seq(in))(_ => ())
    assert(ok !== failedPath, "retry must build into a fresh directory")
    SessionMemo.evict(spark, "failbuild-test")
  }

  test("awaitDemotions fails with a diagnostic instead of hanging") {
    val memo = SessionMemo
    val f = memo.getClass.getDeclaredField("pendingDemotions")
    f.setAccessible(true)
    val pending = f.get(memo).asInstanceOf[java.util.concurrent.atomic.AtomicInteger]
    // no demotions pending: returns immediately
    memo.awaitDemotions(timeoutMs = 1000L)
    pending.incrementAndGet()
    try {
      val e = intercept[IllegalStateException](memo.awaitDemotions(timeoutMs = 60L))
      assert(e.getMessage.contains("1 demotion(s) still pending"))
    } finally { pending.decrementAndGet(); () }
  }

  test("q_c126 gate plan scans the corpus exactly once (r15 advice: no double rules scan)") {
    // the r15 shape filtered the grouped frame twice into a crossJoin —
    // two full rules scans for a 2-row aggregate. The rewrite pivots
    // base/batch with ONE conditional aggregation, so the executed plan
    // must contain exactly one parquet scan of documents
    val plan = SparkEntry.queries("q_c126_ingest_quality_gate")(
        spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val scans = "documents\\.parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly 1 documents scan, found $scans:\n" +
      plan.take(1500))
  }

  test("parquetRows counts rows under nested (partitioned) layouts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pqrows").toString
    val s = spark
    import s.implicits._
    (1 to 40).map(i => (i.toLong, s"s${i % 4}")).toDF("id", "src")
      .write.mode("overwrite").partitionBy("src").parquet(s"$dir/nested")
    assert(graft.core.Sizing.parquetRows(spark, s"$dir/nested") === 40L,
      "partition-key subdirectories must be counted recursively")
    graft.core.LocalArtifacts.deleteRecursively(dir)
  }
}
