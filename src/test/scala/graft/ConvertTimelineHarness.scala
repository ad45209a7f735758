package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.core.Geometry.Shape3
import graft.plans.ImarisToZarr

/** Optimization-round harness: the listener timeline of `reps` back-to-back
  * `convertAll` calls on one tile with the `convert_pyramid` benchmark's
  * settings (shard 512³, chunk 128³, zstd 3, 3 computed mean levels,
  * fused), in one `local[4]` session. Each conversion prints offsets in ms
  * from the call: every job's start and end, and every task's launch,
  * deserialize time, run time, task-thread CPU time and finish. The first
  * conversion is the session's cold one.
  *
  *   sbt "Test/runMain graft.ConvertTimelineHarness <tile.ims> <scratchDir> <reps>"
  *
  * (the benchmark caches its tile under `.bench_work/inputs/seed<N>-*`).
  */
object ConvertTimelineHarness {
  def main(args: Array[String]): Unit = {
    val Array(ims, work, reps) = args
    val spark = SparkSession.builder().master("local[4]").appName("convert-timeline")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val settings = ImarisToZarr.Settings(
      shard = Shape3(512, 512, 512), chunk = Shape3(128, 128, 128), zstdLevel = 3,
      codecName = "zstd", translatePyramid = false, computeLevels = 3,
      downsampleMode = "mean", fuseDownsample = true)
    val lines = mutable.ArrayBuffer.empty[(Long, String)] // (ns, line)
    @volatile var t0 = 0L   // nanoTime at the call
    @volatile var t0ms = 0L // wall-clock ms at the call, for task timestamps
    def add(ns: Long, s: String): Unit = lines.synchronized(lines += ns -> s)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        add(System.nanoTime(), s"job ${e.jobId} start (${e.stageInfos.map(_.numTasks).sum} tasks)")
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        add(System.nanoTime(), s"job ${e.jobId} end")
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val (i, m) = (e.taskInfo, e.taskMetrics)
        add(t0 + (i.launchTime - t0ms) * 1000000L,
          s"  task stage ${e.stageId} part ${i.index} launch; deserialize ${m.executorDeserializeTime} ms, " +
            s"run ${m.executorRunTime} ms, cpu ${m.executorCpuTime / 1000000} ms, " +
            s"finish at ${i.finishTime - t0ms} ms")
      }
    })
    for (r <- 0 until reps.toInt) {
      org.apache.spark.GraftSparkTestAccess.drainListenerBus(spark.sparkContext)
      lines.synchronized(lines.clear())
      t0ms = System.currentTimeMillis(); t0 = System.nanoTime()
      ImarisToZarr.convertAll(spark, Seq(ims), s"$work/out$r", _ => settings)
      val end = System.nanoTime()
      org.apache.spark.GraftSparkTestAccess.drainListenerBus(spark.sparkContext)
      def at(ns: Long): String = f"${(ns - t0) / 1000000}%6d ms  "
      println(s"=== conversion $r")
      println(at(t0) + "convertAll called")
      lines.synchronized(lines.sortBy(_._1).foreach { case (ns, s) => println(at(ns) + s) })
      println(at(end) + "convertAll returns")
    }
    spark.stop()
  }
}
