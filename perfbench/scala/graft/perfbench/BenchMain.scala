package graft.perfbench

import java.io.{OutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.sources.{Filter, GreaterThan}

import graft.core.Geometry.Shape3
import graft.plans.ImarisToZarr

/** JVM side of the benchmark: runs one workload on inputs run.py generated,
  * and writes raw samples, layer metrics and the outputs run.py checks to a
  * JSON file. It never judges correctness itself.
  *
  * Arguments are `key=value`: workload, work (scratch dir), seconds, trace
  * (0|1), slots, out (result JSON), and per workload ims / warm_ims /
  * threshold / boxes (JSON file) or sf / queries.
  */
object BenchMain {
  private val SetupReps = 3

  /** The reference benchmark's conversion: shard 512³, chunk 128³, zstd 3,
    * 3 computed levels (mean, fused).
    */
  val Settings: ImarisToZarr.Settings = ImarisToZarr.Settings(
    shard = Shape3(512, 512, 512), chunk = Shape3(128, 128, 128), zstdLevel = 3,
    codecName = "zstd", translatePyramid = false, computeLevels = 3,
    downsampleMode = "mean", fuseDownsample = true)

  final class Ctx(val args: Map[String, String]) {
    val work: String = args("work")
    val seconds: Double = args("seconds").toDouble
    val traced: Boolean = args("trace") == "1"
    val slots: Int = args("slots").toInt
    val tracer = new Tracer(traced)
    val counters = new Counters
    val rec = new Recorder
    var spark: SparkSession = _
    var plans: Option[PlanRecorder] = None
    val info = new java.util.LinkedHashMap[String, Any]()
    val layers = new java.util.LinkedHashMap[String, Any]()
    val outputs = new java.util.LinkedHashMap[String, Any]()
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]

    /** Moves the listener label once every earlier event is delivered. */
    def section(label: String): Unit = {
      ListenerBusDrain(spark.sparkContext)
      rec.label = label
    }
    /** One attempted operation; a throw counts as failed and is recorded. */
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch { case e: Throwable =>
        failed += 1
        errors += s"$what: ${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[perfbench] FAILED $what: $e")
        None
      }
    }
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def jlist(xs: Iterable[Any]): java.util.List[Any] =
    xs.map {
      case s: Iterable[_] => jlist(s)
      case v => v
    }.toSeq.asJava

  def main(argv: Array[String]): Unit = {
    val ctx = new Ctx(argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val memoKinds = captureMemoAdmissions()
    val workload = ctx.args("workload")
    val warm: SparkSession => Unit = workload match {
      case "corpus_queries" => s =>
        s.range(1000000).selectExpr("sum(id)").collect()
        s.read.parquet(s"${ctx.args("sf")}/lineitem.parquet").groupBy("l_returnflag").count().collect()
      case _ => s =>
        val out = s"${ctx.work}/warm/${System.nanoTime()}"
        ImarisToZarr.convertAll(s, Seq(ctx.args("warm_ims")), out, _ => Settings)
        s.read.format("zarr3voxels").load(s"$out/warm.ome.zarr/0").count()
    }
    setup(ctx, warm)
    val calib = mutable.ArrayBuffer(calibrate(ctx.slots), calibrate(ctx.slots))
    workload match {
      case "convert_pyramid" => Convert.run(ctx)
      case "voxel_scan" => VoxelScan.run(ctx)
      case "corpus_queries" => Corpus.run(ctx, memoKinds)
      case other => sys.error(s"unknown workload $other")
    }
    ListenerBusDrain(ctx.spark.sparkContext)
    calib ++= Seq(calibrate(ctx.slots), calibrate(ctx.slots))
    ctx.info.put("calib_s", jlist(calib))
    ctx.info.put("peak_rss_mb", peakRssMb())
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("attempted", ctx.attempted)
    result.put("failed", ctx.failed)
    result.put("errors", jlist(ctx.errors))
    result.put("info", ctx.info)
    result.put("layers", ctx.layers)
    result.put("outputs", ctx.outputs)
    if (ctx.traced)
      result.put("spans", jlist(ctx.tracer.all.sortBy(_.startNs).map(s =>
        Seq(s.id, s.trace, s.name, s.startNs, s.endNs, s.parent))))
    ctx.spark.stop()
    Files.writeString(Paths.get(ctx.args("out")), new ObjectMapper().writeValueAsString(result))
  }

  /** Creates the session [[SetupReps]] times (stopping all but the last),
    * each followed by the workload's small warm-up call. The first
    * repetition is timed from JVM start.
    */
  private def setup(ctx: Ctx, warm: SparkSession => Unit): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val starts = mutable.ArrayBuffer.empty[Double]
    val warms = mutable.ArrayBuffer.empty[Double]
    for (i <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      val spark = graft.core.GraftSession.local(ctx.slots, ctx.slots)
      starts += (if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else secondsSince(t0))
      val t1 = System.nanoTime()
      warm(spark)
      warms += secondsSince(t1)
      if (i + 1 < SetupReps) spark.stop() else ctx.spark = spark
    }
    ctx.spark.sparkContext.addSparkListener(ctx.rec)
    if (ctx.traced) {
      val p = new PlanRecorder(ctx.rec)
      ctx.spark.listenerManager.register(p)
      ctx.plans = Some(p)
    }
    ctx.info.put("setup_start_s", jlist(starts))
    ctx.info.put("setup_warmup_s", jlist(warms))
  }

  /** Seconds a fixed native zstd workload takes on `slots` threads. It runs
    * no program code, so run.py can scale timings to a nominal machine
    * speed on hosts whose speed drifts while the program stays the same.
    */
  private def calibrate(slots: Int): Double = {
    val rnd = new java.util.Random(42L)
    val data = Array.tabulate[Byte](4 << 20)(i => ((i >>> 9) * 7 + rnd.nextInt(8)).toByte)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(slots)
    try {
      val t0 = System.nanoTime()
      (0 until slots * 12)
        .map(_ => pool.submit(() => com.github.luben.zstd.Zstd.compress(data, 3)))
        .foreach(_.get())
      secondsSince(t0)
    } finally pool.shutdown()
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Tees stderr and collects the kinds named in the memo's admission lines
    * (one line per build), so a pass's builds can be read from
    * `SessionMemo.buildCount`.
    */
  private def captureMemoAdmissions(): java.util.Set[String] = {
    val kinds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val Admission = """\[memo\] (\S+): measured .*""".r
    val err = System.err
    val line = new StringBuilder
    System.setErr(new PrintStream(new OutputStream {
      override def write(b: Int): Unit = synchronized {
        err.write(b)
        if (b == '\n') {
          line.toString match { case Admission(k) => kinds.add(k); case _ => () }
          line.clear()
        } else line.append(b.toChar)
      }
    }, true))
    kinds
  }

  // ---- shared metric helpers ------------------------------------------------

  def total(xs: Iterable[Double]): Double = xs.foldLeft(0.0)(_ + _)

  /** Totals over Spark tasks that ran during `wallS` seconds, divided by
    * `per` (the number of batches or passes they span); the slot-busy
    * fraction is Σ task run time ÷ (wall × slots).
    */
  def taskTotals(ts: Seq[TaskRec], wallS: Double, slots: Int, per: Double = 1.0): Map[String, Double] = {
    val run = total(ts.map(_.runMs / 1e3))
    Map(
      "task_run_s" -> run / per,
      "task_cpu_s" -> total(ts.map(_.cpuNs / 1e9)) / per,
      "gc_s" -> total(ts.map(_.gcMs / 1e3)) / per,
      "tasks" -> ts.size / per,
      "shuffle_read_mb" -> ts.map(_.shuffleReadB).sum / 1e6 / per,
      "shuffle_write_mb" -> ts.map(_.shuffleWriteB).sum / 1e6 / per,
      "spill_mb" -> ts.map(_.spillB).sum / 1e6 / per,
      "slot_busy_frac" -> (if (wallS > 0) run / (wallS * slots) else 0.0))
  }

  def putLayers(ctx: Ctx, prefix: String, m: Map[String, Double], keys: String*): Unit =
    keys.foreach(k => ctx.layers.put(s"$prefix.$k", m(k)))

  def planSeconds(ctx: Ctx, p: String => Boolean): Double =
    ctx.plans.map(_.planSeconds(p)).getOrElse(0.0)

  /** Tracing overhead: the traced warm batches' mean over the mean of `n`
    * further warm batches run with the plan listener detached.
    */
  def untracedOverhead(ctx: Ctx, tracedWarm: Seq[Double], n: Int)(batch: => Double): Unit = {
    ctx.plans.foreach(ctx.spark.listenerManager.unregister)
    val plain = Seq.fill(n)(batch)
    ctx.plans.foreach(ctx.spark.listenerManager.register)
    ctx.info.put("untraced_warm_s", jlist(plain))
    ctx.layers.put("trace.overhead_frac", total(tracedWarm) / tracedWarm.size / (total(plain) / n) - 1)
  }
}

/** convert_pyramid: `convertAll` of the seeded tile, repeated for the run
  * length. The first batch after setup is the cold batch.
  */
object Convert {
  import BenchMain._

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val ims = ctx.args("ims")
    val walls = mutable.ArrayBuffer.empty[Double]
    val planS = mutable.ArrayBuffer.empty[Double]
    var stats: Seq[ImarisToZarr.ShardStats] = Nil
    var last = ""
    val t0 = System.nanoTime()
    var i = 0
    while (i < 3 || secondsSince(t0) < ctx.seconds) {
      val out = s"${ctx.work}/out/b$i"
      ctx.section(s"b$i")
      val startMs = System.currentTimeMillis()
      val tb = System.nanoTime()
      ctx.tracer.span("convertAll", s"b$i") { _ =>
        ctx.attempt(s"convertAll batch $i")(
          ImarisToZarr.convertAll(spark, Seq(ims), out, _ => BenchMain.Settings))
      }.foreach { st =>
        walls += secondsSince(tb)
        stats = st
      }
      ctx.section("between")
      val firstJob = ctx.rec.jobStarts(_ == s"b$i").minOption
      planS += firstJob.map(j => (j - startMs) / 1e3).getOrElse(0.0)
      if (last.nonEmpty) graft.core.LocalArtifacts.deleteRecursively(last)
      last = out
      i += 1
    }
    val warmLabels = (1 until i).map(k => s"b$k").toSet
    val rawBytes = stats.map(_.voxels * 2L).sum
    ctx.info.put("batch_s", jlist(walls))
    ctx.info.put("raw_bytes", rawBytes)
    ctx.info.put("stored_bytes", stats.map(_.bytesWritten).sum)
    ctx.info.put("shards", stats.size.toLong)
    ctx.info.put("task_ms", jlist(ctx.rec.tasksOf(warmLabels).map(_.runMs.toDouble)))
    ctx.outputs.put("store", s"$last/tile.ome.zarr")

    if (ctx.traced) {
      // per-batch means over the warm batches, read from the listener
      val nWarm = math.max(1, warmLabels.size).toDouble
      val ts = ctx.rec.tasksOf(warmLabels)
      val tasks = taskTotals(ts, total(walls.drop(1)), ctx.slots, nWarm)
      putLayers(ctx, "i2z", tasks, "task_run_s", "task_cpu_s", "gc_s", "tasks", "slot_busy_frac")
      ctx.layers.put("i2z.jobs", ctx.rec.jobStarts(warmLabels).size / nWarm)
      ctx.layers.put("i2z.plan_s", total(planS.drop(1)) / nWarm)
      val run = ts.map(_.runMs / 1e3).sorted
      ctx.layers.put("i2z.task_p50_s", if (run.isEmpty) 0.0 else run(run.size / 2))
      ctx.layers.put("i2z.task_max_s", run.lastOption.getOrElse(0.0))
      untracedOverhead(ctx, walls.drop(1).toSeq, 2) {
        val out = s"${ctx.work}/out/untraced"
        val tb = System.nanoTime()
        ImarisToZarr.convertAll(spark, Seq(ims), out, _ => BenchMain.Settings)
        val w = secondsSince(tb)
        graft.core.LocalArtifacts.deleteRecursively(out)
        w
      }
      // replay one conversion's tasks call by call
      val c = ctx.counters
      val replayOut = s"${ctx.work}/replay"
      val tr = System.nanoTime()
      Replay.convert(ctx.tracer, c, spark.sparkContext.hadoopConfiguration, ims, replayOut,
        BenchMain.Settings, ctx.slots)
      ctx.info.put("replay_wall_s", secondsSince(tr))
      graft.core.LocalArtifacts.deleteRecursively(replayOut)
      val self = ctx.tracer.selfSeconds(s => s.trace != "plan" && !s.trace.startsWith("b"))
      def s(k: String) = self.getOrElse(k, 0.0)
      ctx.layers.put("hdf5.open_s", s("hdf5.open") + ctx.tracer.selfSeconds(_.trace == "plan")
        .getOrElse("hdf5.open", 0.0))
      ctx.layers.put("hdf5.read_s", s("hdf5.read"))
      ctx.layers.put("hdf5.chunks", c("hdf5.chunks"))
      ctx.layers.put("hdf5.bytes_in", c("hdf5.bytes_in"))
      ctx.layers.put("hdf5.out_mb_s", if (s("hdf5.read") > 0) c("hdf5.bytes_out") / 1e6 / s("hdf5.read") else 0.0)
      ctx.layers.put("downsample.reduce_s", s("downsample.reduce"))
      ctx.layers.put("downsample.voxels_out", c("downsample.voxels_out"))
      ctx.layers.put("partial.write_s", s("partial.write"))
      ctx.layers.put("partial.read_s", s("partial.read"))
      ctx.layers.put("partial.bytes", c("partial.bytes"))
      ctx.layers.put("zarr.encode_s", s("zarr.encode"))
      ctx.layers.put("zarr.chunks_encoded", c("zarr.chunks_encoded"))
      ctx.layers.put("zarr.bytes_out", c("zarr.bytes_out"))
      ctx.layers.put("fs.write_s", s("fs.write"))
      ctx.layers.put("fs.files_written", c("fs.files_written"))
      // reconciliation: replayed call self times against the real tasks
      val replaySelf = total(self.collect { case (k, v) if k != "task" => v })
      val taskRun = tasks("task_run_s")
      ctx.layers.put("trace.task_run_s", taskRun)
      ctx.layers.put("trace.replay_self_s", replaySelf)
      ctx.layers.put("trace.replay_glue_s", s("task"))
      ctx.layers.put("trace.unattributed_s", taskRun - replaySelf - s("task"))
    }
  }
}

/** voxel_scan: full-level aggregates and a closed loop of seeded box
  * queries over level 0 of a store the converter produced (untimed).
  */
object VoxelScan {
  import BenchMain._

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val prep = System.nanoTime()
    ctx.section("prep")
    ImarisToZarr.convertAll(spark, Seq(ctx.args("ims")), s"${ctx.work}/store", _ => BenchMain.Settings)
    ctx.info.put("prep_s", secondsSince(prep))
    val level = s"${ctx.work}/store/tile.ome.zarr/0"
    val thr = ctx.args("threshold").toInt
    val boxes: Seq[Seq[Long]] = new ObjectMapper()
      .readValue(new java.io.File(ctx.args("boxes")), classOf[java.util.List[java.util.List[Number]]])
      .asScala.toSeq.map(_.asScala.toSeq.map(_.longValue))
    def voxels: DataFrame = spark.read.format("zarr3voxels").load(level)

    val aggWalls = mutable.ArrayBuffer.empty[Double]
    val counts = mutable.ArrayBuffer.empty[Long]
    val zMeans = mutable.ArrayBuffer.empty[Seq[Seq[Double]]]
    def aggBatch(label: String): Option[Double] = {
      ctx.section(label)
      val tb = System.nanoTime()
      val r = ctx.tracer.span("aggregates", label) { _ =>
        for {
          n <- ctx.attempt(s"$label count")(voxels.where(F.col("v") > thr).count())
          zs <- ctx.attempt(s"$label groupBy z")(
            voxels.groupBy("z").agg(F.avg("v")).collect().toSeq.map(r => Seq(r.getLong(0).toDouble, r.getDouble(1))))
        } yield (n, zs)
      }
      val w = secondsSince(tb)
      r.map { case (n, zs) => counts += n; zMeans += zs; w }
    }
    val t0 = System.nanoTime()
    var i = 0
    while (i < 3 || secondsSince(t0) < 0.5 * ctx.seconds) {
      aggBatch(s"agg$i").foreach(aggWalls += _)
      i += 1
    }
    val aggLabels = (1 until i).map(k => s"agg$k").toSet

    val boxMs = mutable.ArrayBuffer.empty[Double]
    val answers = mutable.ArrayBuffer.empty[Seq[Long]]
    var j = 0
    while (j < 16 || secondsSince(t0) < ctx.seconds) {
      val b = boxes(j % boxes.size)
      ctx.section(s"box$j")
      val tb = System.nanoTime()
      val row = ctx.tracer.span("box", s"box$j") { _ =>
        ctx.attempt(s"box $j")(voxels
          .where(F.col("z").between(b(0), b(1)) && F.col("y").between(b(2), b(3)) &&
            F.col("x").between(b(4), b(5)))
          .agg(F.count(F.lit(1)), F.sum("v"), F.min("v"), F.max("v")).collect()(0))
      }
      boxMs += secondsSince(tb) * 1e3
      row.foreach(r => answers += Seq(j.toLong % boxes.size, r.getLong(0), r.getLong(1),
        r.getInt(2).toLong, r.getInt(3).toLong))
      j += 1
    }
    ctx.section("done")
    val shape = graft.sources.Zarr3VoxelSource.levelGeometry(spark.sparkContext.hadoopConfiguration, level)._1
    ctx.info.put("level_voxels", shape.voxels)
    ctx.info.put("batch_s", jlist(aggWalls))
    ctx.info.put("box_ms", jlist(boxMs))
    ctx.outputs.put("counts", jlist(counts))
    ctx.outputs.put("z_means", jlist(zMeans))
    ctx.outputs.put("box_answers", jlist(answers))

    if (ctx.traced) {
      val boxLabels = (0 until j).map(k => s"box$k").toSet
      val scanLabels: String => Boolean = l => aggLabels(l) || boxLabels(l)
      putLayers(ctx, "scan", taskTotals(ctx.rec.tasksOf(scanLabels), 0.0, ctx.slots),
        "task_run_s", "task_cpu_s")
      ctx.layers.put("scan.rows_out", ctx.plans.map(_.scanRows(scanLabels)).getOrElse(0L))
      untracedOverhead(ctx, aggWalls.drop(1).toSeq, 2) {
        aggBatch("untraced").getOrElse(0.0)
      }
      // replay: every full-level scan of the warm batches (two per batch)
      // and every executed box query
      val conf = spark.sparkContext.hadoopConfiguration
      var read = 0L
      var inLevel = 0L
      for (k <- 1 until i; q <- Seq("count", "groupBy")) {
        val filters: Array[Filter] = if (q == "count") Array(GreaterThan("v", thr)) else Array.empty
        val (r, t) = Replay.scan(ctx.tracer, ctx.counters, conf, level, filters, ctx.slots, s"replay:agg$k:$q")
        read += r; inLevel += t
      }
      for (k <- 0 until j) {
        val (r, t) = Replay.scan(ctx.tracer, ctx.counters, conf, level,
          Replay.boxFilters(boxes(k % boxes.size)), ctx.slots, s"replay:box$k")
        read += r; inLevel += t
      }
      val self = ctx.tracer.selfSeconds(_.trace.startsWith("replay:"))
      def s(k: String) = self.getOrElse(k, 0.0)
      ctx.layers.put("fs.read_s", s("fs.read"))
      ctx.layers.put("zarr.decode_s", s("zarr.decode"))
      ctx.layers.put("zarr.chunks_decoded", ctx.counters("zarr.chunks_decoded"))
      ctx.layers.put("scan.plan_s", planSeconds(ctx, scanLabels) + s("scan.plan"))
      ctx.layers.put("scan.shards_read", read)
      ctx.layers.put("scan.prune_frac", if (inLevel > 0) 1.0 - read.toDouble / inLevel else 0.0)
    }
  }
}

/** corpus_queries: a fixed ordered mix of registered queries through the
  * noop sink, one cold pass and then warm passes, in one fresh session.
  */
object Corpus {
  import BenchMain._

  def run(ctx: Ctx, memoKinds: java.util.Set[String]): Unit = {
    val spark = ctx.spark
    val sf = ctx.args("sf")
    val names = ctx.args("queries").split(',').toSeq
    val registry = graft.SparkEntry.queries
    def memoBuilds(): Long =
      memoKinds.asScala.toSeq.map(graft.core.SessionMemo.buildCount).sum

    val passWall = mutable.LinkedHashMap.empty[String, Double]
    val perQuery = mutable.LinkedHashMap.empty[String, Double]
    val builds = mutable.LinkedHashMap.empty[String, Long]
    var lastFrames = Map.empty[String, DataFrame]
    def pass(p: String): Unit = {
      val b0 = memoBuilds()
      val frames = mutable.LinkedHashMap.empty[String, DataFrame]
      var wall = 0.0
      for (q <- names) {
        ctx.section(s"$p:$q")
        val tb = System.nanoTime()
        ctx.tracer.span(q, s"$p:$q") { _ =>
          ctx.attempt(s"$p $q") {
            val df = registry(q)(spark, sf)
            df.write.format("noop").mode("overwrite").save()
            df
          }
        }.foreach(frames(q) = _)
        val w = secondsSince(tb)
        graft.core.CachedRdds.drain()
        wall += w
        perQuery(s"$p:$q") = w
      }
      ctx.section("between")
      passWall(p) = wall
      builds(p) = memoBuilds() - b0
      lastFrames = frames.toMap
    }
    val t0 = System.nanoTime()
    pass("cold")
    var k = 0
    while (k < 1 || secondsSince(t0) < ctx.seconds) { pass(s"warm$k"); k += 1 }
    val warmPasses = (0 until k).map(n => s"warm$n")
    ctx.info.put("cold_s", passWall("cold"))
    ctx.info.put("batch_s", jlist(warmPasses.map(passWall)))
    ctx.info.put("query_s", perQuery.asJava)
    ctx.info.put("warm_query_ms", jlist(names.map(q => perQuery(s"warm0:$q") * 1e3)))
    val jobsOf = (p: String) => ctx.rec.jobStarts(_.startsWith(s"$p:")).size.toLong
    ctx.info.put("jobs_cold", jobsOf("cold"))
    ctx.info.put("jobs_warm", jobsOf("warm0"))
    ctx.info.put("memo_held_mb", graft.core.SessionMemo.sessionWorkingSet(spark) / 1e6)

    // outputs for run.py's checks: the last warm pass's frames, written
    // outside every timed section
    val oracle = graft.SparkEntry.oracleSql
    val checks = new java.util.LinkedHashMap[String, Any]()
    for (q <- names; df <- lastFrames.get(q)) {
      val dir = s"${ctx.work}/check/$q"
      ctx.attempt(s"write $q")(df.coalesce(1).write.mode("overwrite").parquet(dir))
      val e = new java.util.LinkedHashMap[String, Any]()
      e.put("dir", dir)
      e.put("oracle", oracle.getOrElse(q, null))
      checks.put(q, e)
    }
    ctx.outputs.put("queries", checks)

    if (ctx.traced) {
      // one profile per section: the pass totals become layer metrics, the
      // per-query ones go to the printed table and the trace file
      def profile(p: String => Boolean, wall: Double): Map[String, Double] =
        taskTotals(ctx.rec.tasksOf(p), wall, ctx.slots) ++ Map(
          "wall_s" -> wall, "plan_s" -> planSeconds(ctx, p),
          "jobs" -> ctx.rec.jobStarts(p).size.toDouble, "stages" -> ctx.rec.stageCount(p).toDouble)
      val perQueryLayers = new java.util.LinkedHashMap[String, Any]()
      for ((p, tag) <- Seq("cold" -> "cold", "warm0" -> "warm")) {
        putLayers(ctx, s"query.$tag", profile(_.startsWith(s"$p:"), passWall(p)),
          "plan_s", "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
          "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "slot_busy_frac")
        ctx.layers.put(s"memo.$tag.builds", builds(p))
        for (q <- names) {
          val l = s"$p:$q"
          val m = profile(_ == l, perQuery(l)) - "slot_busy_frac"
          perQueryLayers.put(l, m.asJava)
        }
      }
      ctx.info.put("per_query", perQueryLayers)
      ctx.layers.put("memo.held_mb", graft.core.SessionMemo.sessionWorkingSet(spark) / 1e6)
      ctx.layers.put("memo.jobs_saved", jobsOf("cold") - jobsOf("warm0"))
      untracedOverhead(ctx, Seq(passWall("warm0")), 1) {
        pass("untraced")
        passWall("untraced")
      }
    }
  }
}
