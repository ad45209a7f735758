package graft

import org.apache.spark.sql.SparkSession

import graft.core.Geometry.Shape3
import graft.plans.{DirSync, ImarisToZarr, JobSettings, Manifest}

/** CLI entrypoint for the IMS → OME-Zarr batch job (reference O1/O2:
  * `job_entrypoint` + `run_job`, `imaris_job.py:719-770`).
  *
  * Settings reach the job through the reference's three entry modes
  * (see [[graft.plans.JobSettings]]) plus explicit flags:
  * {{{
  * graft.ImsToZarrJob --job-settings '{"input_source":...,"output_directory":...}'
  * graft.ImsToZarrJob --config-file /path/settings.json
  * GRAFT_JOB_INPUT_SOURCE=... GRAFT_JOB_OUTPUT_DIRECTORY=... graft.ImsToZarrJob
  * graft.ImsToZarrJob --input DIR --output DIR
  *   [--shard Z,Y,X] [--chunk Z,Y,X] [--levels N] [--mode mean]
  *   [--partition-mode shard|file] [--s3-location URI]
  *   [--no-translate] [--single-tile] [--zstd-level 3]
  * }}}
  *
  * The external-scheduler partitioning contract (O5: SLURM array id →
  * `partition_to_process`) is intentionally dropped — Spark owns
  * placement; run ONE job over all files instead of N mod-N slices.
  */
object ImsToZarrJob {

  private def parseShape(s: String): Shape3 = {
    val p = s.split(",").map(_.trim.toLong)
    require(p.length == 3, s"expected Z,Y,X, got: $s")
    Shape3(p(0), p(1), p(2))
  }

  /** Resolve settings with the reference's precedence
    * (`imaris_job.py:758-768`): inline JSON beats config file beats
    * env/flags. Flags and env compose (flags win field-wise).
    */
  def resolveSettings(argv: Array[String],
                      env: Map[String, String],
                      hconf: org.apache.hadoop.conf.Configuration): JobSettings = {
    def valOf(flag: String): Option[String] = {
      val i = argv.indexOf(flag)
      if (i >= 0 && i + 1 < argv.length) Some(argv(i + 1)) else None
    }
    if (valOf("--job-settings").isDefined) JobSettings.fromJson(valOf("--job-settings").get)
    else if (valOf("--config-file").isDefined) JobSettings.fromConfigFile(hconf, valOf("--config-file").get)
    else {
      var s =
        if (env.contains("GRAFT_JOB_INPUT_SOURCE")) JobSettings.fromEnv(env)
        else JobSettings(inputSource = "", outputDirectory = "")
      var i = 0
      while (i < argv.length) {
        argv(i) match {
          case "--input"          => s = s.copy(inputSource = argv(i + 1)); i += 2
          case "--output"         => s = s.copy(outputDirectory = argv(i + 1)); i += 2
          case "--shard"          => s = s.copy(shardSize = parseShape(argv(i + 1))); i += 2
          case "--chunk"          => s = s.copy(chunkSize = parseShape(argv(i + 1))); i += 2
          case "--levels"         => s = s.copy(downsampleLevels = argv(i + 1).toInt); i += 2
          case "--mode"           => s = s.copy(downsampleMode = argv(i + 1)); i += 2
          case "--zstd-level"     => s = s.copy(zstdLevel = argv(i + 1).toInt); i += 2
          case "--zarr-format"    => s = s.copy(zarrFormat = argv(i + 1).toInt); i += 2
          case "--codec"          => s = s.copy(codec = argv(i + 1)); i += 2
          case "--blosc-cname"    => s = s.copy(bloscCname = argv(i + 1)); i += 2
          case "--blosc-shuffle"  => s = s.copy(bloscShuffle = argv(i + 1)); i += 2
          case "--v2-separator"   => s = s.copy(v2Separator = argv(i + 1)); i += 2
          case "--partition-mode" => s = s.copy(partitionMode = argv(i + 1)); i += 2
          case "--s3-location"    => s = s.copy(s3Location = Some(argv(i + 1))); i += 2
          case "--no-translate"   => s = s.copy(translateImarisPyramid = false); i += 1
          case "--single-tile"    => s = s.copy(singleTileUpload = true); i += 1
          case other              => sys.error(s"unknown arg: $other")
        }
      }
      s.validated
    }
  }

  def main(argv: Array[String]): Unit = {
    val builder = SparkSession.builder()
      .appName("graft-ims-to-zarr")
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit injects the master; default to local cores otherwise
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val hconf = spark.sparkContext.hadoopConfiguration
    val a = resolveSettings(argv, sys.env, hconf)
    val t0 = System.nanoTime()

    val stacks = ImarisToZarr.discover(a.inputSource, a.singleTileUpload, hconf)
    if (stacks.isEmpty) { println("No stacks to process!"); return }
    // output stores are keyed by basename; two tiles with the same name in
    // different subdirectories would silently clobber each other's shards
    val dupes = stacks.groupBy(_.split('/').last).filter(_._2.length > 1)
    require(dupes.isEmpty,
      s"duplicate stack basenames would overwrite each other: ${dupes.keys.mkString(", ")}")

    // acquisition.json lives one directory above input_source
    // (imaris_job.py:362-367); voxel-size precedence: manifest → Imaris.
    // Hadoop Path handles schemes (s3a://bucket/dir) and roots: a root
    // input has no parent directory, hence no manifest to look for.
    val manifest = Manifest.parentManifestPath(a.inputSource)
      .flatMap(p => Manifest.readJson(hconf, p))
    val voxelOverride = manifest.flatMap(Manifest.voxelResolution)

    // ONE global pooled task list over all files (reference
    // `_build_global_shard_task_list`) — per-file settings differ only in
    // the manifest origin override
    val settingsFor = (stack: String) => ImarisToZarr.Settings(
      shard = a.shardSize, chunk = a.chunkSize, zstdLevel = a.zstdLevel,
      translatePyramid = a.translateImarisPyramid, computeLevels = a.downsampleLevels,
      downsampleMode = a.downsampleMode, scaleFactor = a.scaleFactor,
      partitionMode = a.partitionMode, codecName = a.codec,
      zarrFormat = a.zarrFormat, bloscCname = a.bloscCname,
      bloscShuffle = JobSettings.resolveShuffle(a.bloscShuffle),
      v2Separator = a.v2Separator,
      voxelSizeOverrideUm = voxelOverride,
      originOverrideUm = manifest.flatMap(m =>
        Manifest.tileTranslationUm(m, stack.split('/').last)))
    val progress = ImarisToZarr.Progress.init(spark)
    val stats = ImarisToZarr.convertAll(
      spark, stacks, a.outputDirectory, settingsFor, Some(progress))
    stats.groupBy(_.file).toSeq.sortBy(_._1).foreach { case (file, st) =>
      println(s"[ims-to-zarr] ${file.split('/').last}: ${st.length} shards, " +
        s"${st.map(_.bytesWritten).sum} bytes, " +
        s"levels ${st.map(_.level).distinct.sorted.mkString(",")}")
    }
    val totalBytes = stats.map(_.bytesWritten).sum
    val rawBytes = stats.map(_.voxels * 2L).sum // uint16
    // reference W10: optional post-conversion sync of the local store to S3
    a.s3Location.foreach { dst =>
      println(s"[ims-to-zarr] syncing ${a.outputDirectory} -> $dst")
      DirSync.sync(hconf, a.outputDirectory, dst)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    // reference job response: status 200 + wall-time message (O4), with
    // the raw (uncompressed voxel) and file throughput over that wall
    println(f"[ims-to-zarr] DONE ${stacks.length} stacks, $totalBytes bytes in $secs%.1fs, " +
      f"raw $rawBytes bytes, raw ${rawBytes / 1e6 / secs}%.1f MB/s, file ${totalBytes / 1e6 / secs}%.1f MB/s")
    spark.stop()
  }
}
