package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.core.Geometry.Shape3
import graft.plans.ImarisToZarr

/** Plan receipts for the `zarr3voxels` queries of the `voxel_scan`
  * benchmark, over level 0 of the `ims_64` fixture converted with 32³
  * shards and 16³ chunks: each query runs once, then its final
  * `explain("formatted")` plan goes to `<outDir>/<query>_<suffix>.txt`,
  * and its scan's SQL metrics are printed.
  *
  *   sbt "Test/runMain graft.VoxelPlanHarness <outDir> <suffix>"
  */
object VoxelPlanHarness extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix) = args
    Files.createDirectories(Paths.get(outDir))
    val spark = SparkSession.builder().master("local[4]").appName("voxel-plans")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val store = Files.createTempDirectory("voxel-plans").toString
    ImarisToZarr.convert(spark, s"${Fixtures.dir}/ims_64.ims", store, ImarisToZarr.Settings(
      shard = Shape3(32, 32, 32), chunk = Shape3(16, 16, 16), translatePyramid = false, computeLevels = 1))
    def voxels: DataFrame = spark.read.format("zarr3voxels").load(s"$store/ims_64.ome.zarr/0")
    val queries = Seq(
      "voxel_count_v_gt_t" -> voxels.where(F.col("v") > 32768).groupBy().count(),
      "voxel_groupby_z_avg_v" -> voxels.groupBy("z").agg(F.avg("v")),
      "voxel_box_count_sum_min_max" -> voxels
        .where(F.col("z").between(3, 40) && F.col("y").between(2, 9) && F.col("x").between(5, 33))
        .agg(F.count(F.lit(1)), F.sum("v"), F.min("v"), F.max("v")),
      "voxel_groupby_z_div_2_avg_v" -> voxels.groupBy(F.expr("z div 2")).agg(F.avg("v")))
    queries.foreach { case (name, df) =>
      df.collect()
      val plan = df.queryExecution.executedPlan
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
        df.queryExecution.explainString(FormattedMode).replace(store, "<store>"))
      val metrics = collect(plan) { case b: BatchScanExec => b }.flatMap(_.metrics.toSeq)
        .map { case (k, m) => s"$k=${m.value}" }.sorted
      println(s"[voxelplans] $name ${metrics.mkString(" ")}")
    }
    spark.stop()
  }
}
