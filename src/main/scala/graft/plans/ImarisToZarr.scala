package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

import graft.core.{Geometry, Voxels}
import graft.core.Geometry.{Shape3, ShardTask, TrueShape}
import graft.meta.OmeNgff
import graft.sinks.{ZarrV2, ZarrV3}
import graft.sources.{Hdf5Reader, Imaris}

/** IMS → OME-NGFF 0.5 Zarr v3 conversion as one Spark pipeline
  * (reference flows §3.1–3.3: `imaris_job.run_job` →
  * `imaris_to_zarr_distributed` / `..._translate_pyramid`).
  *
  * Execution shape (SURVEY §1.4 / §3):
  *  - planning is driver-side metadata-only (open each file once, read
  *    attrs + level shapes — reference `_build_global_shard_task_list`,
  *    `imaris_job.py:535-556`);
  *  - all store metadata (every level zarr.json + root OME metadata) is
  *    created by the DRIVER before the job launches — the reference's
  *    idempotent-create race workaround (W7, `imaris_to_zarr.py:1759-1831`)
  *    disappears because only one process initializes;
  *  - voxel work runs in waves of `ShardTask`s, one plain RDD job each
  *    (`parallelize` + `mapPartitions` + `collect`: no SQL, so no Catalyst
  *    analysis, planning or encoder codegen per wave), all through ONE
  *    runner ([[runWave]]). A task gets its output region
  *    from one of three sources: its region of the Imaris dataset (level
  *    0, and every level of a translated pyramid), the partials the
  *    previous wave reduced from the regions it held (fused), or the
  *    previous level's store read at ×factor and reduced. It then writes
  *    exactly one v3 shard or one shard-aligned set of v2 chunks
  *    (W4/X3), emits the next level's partial when that level is fused,
  *    and returns a stats row (A5);
  *  - pyramid levels are sequential waves (A3 — the inter-level barrier
  *    is inherent: level l+1 reads level l);
  *  - a wave with fewer partitions than slots (the top levels of a
  *    pyramid are often one shard) encodes each shard's inner chunks on
  *    the slots it leaves idle: `slots / partitions` chunks at once
  *    ([[encodeThreads]], `ZarrV3.writeShard`), written in C order so the
  *    store is byte-identical; a wave that fills its slots encodes on the
  *    task thread alone;
  *  - the driver rejects a plan whose task buffers (region, source,
  *    partial) exceed one JVM array before it writes any metadata
  *    ([[checkTaskBuffers]]).
  *
  * Scale posture: tasks are ~256 MB of voxels at the reference's default
  * shard (512³ uint16); 100 TB ⇒ ~400k tasks, far beyond any driver
  * bottleneck since a task row is ~100 bytes. No shuffle anywhere —
  * downsampling is block-local because shard % factor == 0 (X6).
  */
object ImarisToZarr {

  /** Job settings (reference `models.ImarisJobSettings`, `models.py:20-143`). */
  final case class Settings(
      shard: Shape3 = Shape3(512, 512, 512),
      chunk: Shape3 = Shape3(128, 256, 256),
      zstdLevel: Int = 3,
      codecName: String = "zstd",       // zstd (reference chain) | gzip
      // W1: zarr v2 legacy store (blosc chunks, one file per chunk) —
      // the reference's DEFAULT path (use_tensorstore=False,
      // models.py:91-98); 3 = sharded v3 (its tensorstore path)
      zarrFormat: Int = 3,
      bloscCname: String = "zstd",      // v2 chunk codec inside blosc
      bloscShuffle: Int = graft.sinks.Blosc.SHUFFLE,
      // v2 chunk-key layout: "." = flat (zarr-python default, what the
      // reference writes), "/" = nested directory store
      v2Separator: String = ".",
      translatePyramid: Boolean = true,   // models.py:99-108
      computeLevels: Int = 1,             // levels to materialize if not translating
      downsampleMode: String = "mean",    // stride|median|mode|mean|min|max (models.py:79-85)
      scaleFactor: Shape3 = Shape3(2, 2, 2),
      singleTileOnly: Boolean = false,    // models.py:131-143 (S3)
      // D6 two-mode partitioning (models.py:121-130): "shard" = one task
      // per (file, shard index) — sub-file parallelism; "file" = legacy
      // whole-file granularity, realized as a degenerate one-shard-per-
      // level grid (shard = chunk-aligned cover of the data)
      partitionMode: String = "shard",
      // voxel-size precedence chain (imaris_job.py:362-403): manifest
      // value if present, else per-file Imaris metadata
      voxelSizeOverrideUm: Option[(Double, Double, Double)] = None,
      // tile translation from acquisition.json (imaris_job.py:256-307);
      // absent → Imaris ExtMin origin
      originOverrideUm: Option[(Double, Double, Double)] = None,
      // Fuse each computed level's reduction into the wave that already
      // holds its source in memory: every task emits the next level's
      // partial (1/∏factor of its bytes), and the next wave assembles
      // partials instead of decoding the previous level's store.
      // Requires the source task shard to be factor-aligned (shard %
      // scaleFactor == 0 per dim) so no output window crosses a source-
      // task border; a level whose clamped shard breaks alignment falls
      // back to the store read. Output stores are byte-identical either
      // way (spec-asserted); false selects the store read everywhere.
      fuseDownsample: Boolean = true
  )

  final case class ShardStats(
      file: String, level: Int, key: String, bytesWritten: Long, voxels: Long)

  /** Live progress accounting (reference A5 live path,
    * `imaris_to_zarr.py:1872-1882`): executor tasks add to these
    * accumulators as each shard lands; the driver logs a progress line
    * as completions stream in (see [[convertAll]]). Totals equal the
    * post-action stats by construction — the spec asserts it.
    */
  final case class Progress(
      shards: org.apache.spark.util.LongAccumulator,
      bytes: org.apache.spark.util.LongAccumulator)
  object Progress {
    def init(spark: SparkSession): Progress = Progress(
      spark.sparkContext.longAccumulator("graft.shards.written"),
      spark.sparkContext.longAccumulator("graft.bytes.written"))
  }

  /** Where a task's output region comes from. */
  private[plans] sealed trait Source extends Serializable
  /** The task's region of the Imaris dataset at its level. */
  private[plans] case object FromHdf5 extends Source
  /** Assembled from the previous wave's partials under `dir`: partial
    * (gz, gy, gx) covers tile (gz, gy, gx) of this level's `tile` grid,
    * clipped to `levelShape`.
    */
  private[plans] final case class FromPartials(dir: String, tile: Shape3, levelShape: Shape3) extends Source
  /** The ×factor region of the previous level's store, read and reduced. */
  private[plans] final case class FromStore(
      levelDir: String, shape: Shape3, shard: Shape3, chunk: Shape3) extends Source

  /** Per-(file, level) parameters an executor task resolves from its
    * ShardTask key.
    */
  private final case class TaskIo(
      store: String, chunk: Shape3, shard: Shape3, zstdLevel: Int, codec: String,
      zarrFormat: Int, cname: String, shuffle: Int, separator: String,
      factor: Shape3, mode: String, source: Source,
      // non-empty → emit the next level's partial of this task's region
      // to `$partialDir/<sz>_<sy>_<sx>`
      partialDir: String)

  /** Deterministic discovery: recursive *.ims listing, *.h5 fallback,
    * lexicographic order, optional first-only (reference S1–S3,
    * `imaris_job.py:48-112`).
    */
  def discover(inputDir: String, singleTileOnly: Boolean,
               conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(inputDir)
    val fs = p.getFileSystem(conf)
    def walk(dir: Path): Seq[Path] = {
      val st = fs.listStatus(dir)
      st.toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else Seq(s.getPath)
      }
    }
    val all = walk(p)
    val ims = all.filter(_.getName.endsWith(".ims"))
    val chosen = if (ims.nonEmpty) ims else all.filter(_.getName.endsWith(".h5"))
    val sorted = chosen.map(_.toString).sorted
    if (singleTileOnly) sorted.take(1) else sorted
  }

  /** Convert one Imaris file to `<outDir>/<stem>.ome.zarr`. Returns the
    * per-shard stats (already computed; caller may aggregate).
    */
  def convert(spark: SparkSession, imsPath: String, outDir: String,
              settings: Settings = Settings()): Seq[ShardStats] =
    convertAll(spark, Seq(imsPath), outDir, _ => settings)

  /** Convert MANY Imaris files with a GLOBAL pooled task list (reference
    * `_build_global_shard_task_list`, `imaris_job.py:535-556`): all
    * (file, level) read-from-IMS tasks across every input run as ONE
    * Spark job, so the cluster never idles in a small file's per-level
    * tail while other files still have work. Computed pyramid levels run
    * as one pooled job per LEVEL (the l−1 → l barrier is inherent), again
    * across all files at once.
    *
    * At 100 TB / 1000 executors this is the difference between ~n_files ×
    * n_levels tiny jobs (each with its own straggler tail) and
    * 1 + (levels−1) jobs whose ~400k pooled tasks bin-pack the cluster.
    */
  def convertAll(spark: SparkSession, imsPaths: Seq[String], outDir: String,
                 settingsFor: String => Settings,
                 progress: Option[Progress] = None): Seq[ShardStats] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    // ONE broadcast of the Hadoop conf (~100 KB serialized) for every
    // wave: captured in each wave's closure, it would be serialized per
    // job and deserialized per task, on the critical path of every wave
    val serConf = spark.sparkContext.broadcast(new SerializableConfiguration(hconf))

    // Fail before ANY metadata is written: Settings built directly via the
    // API bypass JobSettings.validated, and a bad separator caught only at
    // executor write time would leave a partially written store whose
    // .zarray files already carry the bogus dimension_separator.
    imsPaths.foreach { p =>
      val sep = settingsFor(p).v2Separator
      require(sep == "." || sep == "/",
        s"dimension_separator must be '.' or '/', got: $sep (input $p)")
    }

    // ---- driver-side planning, metadata-only (W7→driver, W9, X9) ----
    // `metadata` holds every store document as (path, JSON); the driver
    // writes them once every plan has passed its checks
    final case class FilePlan(file: String, settings: Settings, store: String,
                              trueShapes: Seq[Shape3], specs: Seq[(Shape3, Shape3)],
                              metadata: Seq[(String, String)])
    val plans = imsPaths.map { imsPath =>
      val settings = settingsFor(imsPath)
      val stem = imsPath.split('/').last.stripSuffix(".ims").stripSuffix(".h5")
      val store = s"$outDir/$stem.ome.zarr"
      val meta = Imaris.readMeta(imsPath, hconf)
      val nLevels =
        if (settings.translatePyramid) meta.numLevels else settings.computeLevels
      val factors: Seq[Shape3] =
        if (settings.translatePyramid) Geometry.stepFactors(meta.storedShapes)
        else Seq.fill(settings.computeLevels - 1)(settings.scaleFactor)
      val trueShapes: Seq[Shape3] =
        if (settings.translatePyramid) meta.trueShapes
        else factors.scanLeft(meta.trueShape0.shape)(Geometry.downsampledShape)
      val perLevelSpecs = trueShapes.map { ts =>
        if (settings.partitionMode == "file") {
          // whole-file mode: a single shard spanning the chunk-aligned
          // cover of the level ⇒ exactly one write task per (file, level)
          val (c, _) = Geometry.clampSpec(ts, settings.chunk, settings.shard)
          (c, Shape3(
            Geometry.ceilDiv(ts.z, c.z) * c.z,
            Geometry.ceilDiv(ts.y, c.y) * c.y,
            Geometry.ceilDiv(ts.x, c.x) * c.x))
        } else Geometry.clampSpec(ts, settings.chunk, settings.shard)
      }
      require(settings.zarrFormat == 2 || settings.zarrFormat == 3,
        s"zarr format must be 2|3, got: ${settings.zarrFormat}")
      if (settings.zarrFormat == 2)
        require(settings.zstdLevel >= 0 && settings.zstdLevel <= 9,
          s"blosc clevel must be in [0,9] for zarr v2, got: ${settings.zstdLevel}")
      val levelDocs = trueShapes.zipWithIndex.map { case (ts, l) =>
        val (chunk, shard) = perLevelSpecs(l)
        if (settings.zarrFormat == 2)
          // v2 levels are 3-D (Z,Y,X) blosc-chunked arrays (reference
          // `create_dataset`, `imaris_to_zarr.py:948-967`); the shard is
          // only the TASK granularity, not part of the format
          s"$store/$l/.zarray" -> graft.sinks.ZarrV2.arrayMetadata(
            Seq(ts.z, ts.y, ts.x), Seq(chunk.z, chunk.y, chunk.x),
            settings.bloscCname, settings.zstdLevel, settings.bloscShuffle,
            settings.v2Separator).render
        else
          s"$store/$l/zarr.json" -> ZarrV3.arrayMetadata(
            Seq(1L, 1L, ts.z, ts.y, ts.x),
            Seq(1L, 1L, shard.z, shard.y, shard.x),
            Seq(1L, 1L, chunk.z, chunk.y, chunk.x),
            settings.zstdLevel, settings.codecName).render
      }
      val repFactor = Geometry.representativeFactor(
        if (settings.translatePyramid) meta.storedShapes else trueShapes)
      val voxel = settings.voxelSizeOverrideUm.getOrElse(meta.voxelSizeUm)
      val origin = Some(settings.originOverrideUm.getOrElse(meta.originUm))
      val rootDocs = if (settings.zarrFormat == 2) Seq(
        s"$store/.zgroup" -> graft.sinks.ZarrV2.groupMetadata.render,
        // INTENTIONAL divergence from the reference's v2 path: it dumps the
        // full v3-shaped group dict (zarr_format:3, node_type,
        // attributes:{ome:...}) into .zattrs verbatim; we write only the
        // {"ome": ...} attributes object, which is what zarr v2 defines
        // .zattrs to hold and what v2 readers (zarr-python, ome-zarr-py)
        // expect. Byte-level .zattrs parity with reference v2 output is
        // NOT a goal; semantic parity of the ome block is spec-tested, and
        // ZarrMigrate lifts either flavor (it copies .zattrs verbatim).
        s"$store/.zattrs" -> OmeNgff.omeAttributes(stem, nLevels,
          (repFactor.z, repFactor.y, repFactor.x), voxel, origin).render)
      else Seq(s"$store/zarr.json" -> OmeNgff.rootMetadata(stem, nLevels,
        (repFactor.z, repFactor.y, repFactor.x), voxel, origin).render)
      FilePlan(imsPath, settings, store, trueShapes, perLevelSpecs, levelDocs ++ rootDocs)
    }

    // ---- global task lists, planned up front (pure geometry) ----
    // level-(l+1) fusion precondition (see Settings.fuseDownsample): the
    // level-l TASK grid must be factor-aligned so no level-(l+1) output
    // window crosses a source-task border (file-mode's chunk-aligned
    // cover isn't; skip fusion there). The gate is per level, so a deep
    // level whose clamped shard breaks alignment falls back to the store
    // read without affecting other levels.
    def fusesLevel(p: FilePlan, srcLevel: Int): Boolean = {
      val f = p.settings.scaleFactor
      val shardL = p.specs(srcLevel)._2
      p.settings.fuseDownsample && !p.settings.translatePyramid &&
        p.settings.computeLevels >= srcLevel + 2 &&
        p.settings.partitionMode == "shard" &&
        shardL.z % f.z == 0 && shardL.y % f.y == 0 && shardL.x % f.x == 0
    }
    def partialDir(p: FilePlan, level: Int): String = s"${p.store}/$level/.partial"
    // every partial dir this plan COULD use (any run mode): stale-scratch
    // cleanup must not depend on the current run's fusion decisions
    def allPartialDirs(p: FilePlan): Seq[String] =
      (1 until math.max(2, p.settings.computeLevels)).map(partialDir(p, _))
    def source(p: FilePlan, level: Int): Source =
      if (p.settings.translatePyramid || level == 0) FromHdf5
      else {
        val f = p.settings.scaleFactor
        val (srcChunk, srcShard) = p.specs(level - 1)
        if (fusesLevel(p, level - 1))
          FromPartials(partialDir(p, level),
            Shape3(srcShard.z / f.z, srcShard.y / f.y, srcShard.x / f.x), p.trueShapes(level))
        else FromStore(s"${p.store}/${level - 1}", p.trueShapes(level - 1), srcShard, srcChunk)
      }
    val io: Map[(String, Int), TaskIo] = plans.flatMap { p =>
      p.trueShapes.indices.map { l =>
        val (chunkL, shardL) = p.specs(l)
        (p.file, l) -> TaskIo(p.store, chunkL, shardL,
          p.settings.zstdLevel, p.settings.codecName,
          p.settings.zarrFormat, p.settings.bloscCname, p.settings.bloscShuffle,
          p.settings.v2Separator, p.settings.scaleFactor, p.settings.downsampleMode,
          source(p, l),
          partialDir = if (fusesLevel(p, l)) partialDir(p, l + 1) else "")
      }
    }.toMap
    // wave 0 holds every level read from an Imaris file; wave l ≥ 1 the
    // computed level l of every file, pooled across files. A file's tasks
    // stay contiguous, so most partitions touch few files and the
    // per-partition reader cache hits.
    def wave(p: FilePlan, level: Int): Int = if (p.settings.translatePyramid) 0 else level
    val waves: Seq[Seq[ShardTask]] =
      (0 until plans.map(_.trueShapes.length).maxOption.getOrElse(0)).map { w =>
        for {
          p <- plans
          l <- p.trueShapes.indices if wave(p, l) == w
          t <- Geometry.shardTasks(p.file, l, TrueShape(p.trueShapes(l)), p.specs(l)._2)
        } yield t
      }

    // a task buffer past one JVM array would fail on an executor after
    // the store was initialised: reject the plan before any metadata
    val partitionMode = plans.map(p => p.file -> p.settings.partitionMode).toMap
    waves.foreach(_.foreach { t =>
      val spec = io((t.file, t.level))
      checkTaskBuffers(t, spec.source, spec.factor, spec.partialDir.nonEmpty,
        partitionMode(t.file))
    })
    plans.foreach(_.metadata.foreach { case (path, doc) => ZarrV3.writeString(hconf, path, doc) })

    // ---- live progress: log as shard completions stream in (A5) ----
    val totalTasks = waves.map(_.size).sum
    val listener = progress.map { p =>
      val logEvery = math.max(1L, totalTasks / 10L)
      val lastLogged = new java.util.concurrent.atomic.AtomicLong(0L)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val done = p.shards.value
          if (done / logEvery > lastLogged.getAndSet(done) / logEvery)
            println(s"[ims-to-zarr] progress: $done/$totalTasks shards, " +
              s"${p.bytes.value} bytes")
        }
      }
      spark.sparkContext.addSparkListener(l)
      l
    }

    // drop any fused-reduction scratch left by a PREVIOUS failed run
    // regardless of THIS run's fusion mode: a crash between a wave and
    // cleanup leaves `<store>/<l>/.partial` on disk, and a later
    // successful run (fused or not) must not ship it — the finished-store
    // invariant is "spec-defined keys only". Also guards the fused path
    // against assembling stale partials from an aborted earlier attempt.
    plans.foreach { p =>
      allPartialDirs(p).foreach { d =>
        val dir = new org.apache.hadoop.fs.Path(d)
        val fs = dir.getFileSystem(hconf)
        if (fs.exists(dir)) fs.delete(dir, true)
      }
    }

    try {
      waves.flatMap(runWave(spark, _, io, serConf, progress))
    } finally {
      serConf.destroy()
      listener.foreach(spark.sparkContext.removeSparkListener)
      // fused-reduction scratch is consumed by the next level's wave;
      // remove every level's dir even on failure so a partially written
      // store never carries non-spec keys into a rerun
      plans.foreach { p =>
        allPartialDirs(p).foreach { d =>
          val dir = new org.apache.hadoop.fs.Path(d)
          try dir.getFileSystem(hconf).delete(dir, true)
          catch { case _: java.io.IOException => () }
        }
      }
    }
  }

  /** Memory-aware wave parallelism: a shard task holds its whole voxel
    * region (plus decode/encode scratch, ~3× the region) live on the
    * heap, so the number of CONCURRENT tasks per executor must be sized
    * to the executor heap, not just its core count — the spill-aware
    * sizing rule applied to this operator. Measured on this harness
    * (512³ uint16 shards = 268 MB regions, 8 GB heap): 6 concurrent
    * tasks convert 2.45 GB in ~100 s; 8–10 concurrent take 200–350 s —
    * concurrent humongous allocations fall off a page-fault cliff long
    * before the heap OOMs. Tasks beyond the cap queue inside the wave's
    * partitions and run back-to-back, so throughput stays smooth.
    * `maxTaskBytes` is the largest task's live-region estimate; the cap
    * uses half the heap. On a real cluster the same arithmetic applies
    * per executor (heap from spark.executor.memory); here local-mode
    * driver heap IS the executor heap.
    */
  private[plans] def memoryCappedParallelism(
      spark: SparkSession, nTasks: Int, maxTaskBytes: Long): Int = {
    val slots = spark.sparkContext.defaultParallelism
    val heap = Runtime.getRuntime.maxMemory
    val cap = math.max(1L, heap * 3 / 5 / math.max(1L, maxTaskBytes)).toInt
    math.max(1, math.min(nTasks, math.min(slots, cap)))
  }

  /** Encode threads per task in a wave of `partitions` partitions: the
    * slots the wave leaves idle, shared among its tasks. A wave that
    * fills its slots encodes on the task thread alone (1); a single-task
    * wave on 4 slots encodes 4 chunks at once.
    */
  private[plans] def encodeThreads(spark: SparkSession, partitions: Int): Int =
    math.max(1, spark.sparkContext.defaultParallelism / partitions)

  /** The ×factor source box [lo, hi) of task `t` in a previous level of
    * shape `src`, clipped to that level.
    */
  private def storeBox(t: ShardTask, f: Shape3, src: Shape3): (Shape3, Shape3) =
    (Shape3(t.z0 * f.z, t.y0 * f.y, t.x0 * f.x),
      Shape3(math.min(t.z1 * f.z, src.z), math.min(t.y1 * f.y, src.y), math.min(t.x1 * f.x, src.x)))

  /** The next level's partial of task `t`: its region reduced by `f`.
    * Task borders are factor-aligned (planner precondition), so every
    * output window is wholly local and the partial is exact.
    */
  private def partialShape(t: ShardTask, f: Shape3): Shape3 = Shape3(
    Geometry.ceilDiv(t.z1, f.z) - t.z0 / f.z,
    Geometry.ceilDiv(t.y1, f.y) - t.y0 / f.y,
    Geometry.ceilDiv(t.x1, f.x) - t.x0 / f.x)

  /** Reject task `t` when its region, the source it reads beside it (a
    * partial, or the ×factor store region) or the partial it emits
    * (`fused`) holds more voxels than one JVM array. The driver runs this
    * for every task before it writes any metadata; the message names the
    * file, the level, the voxel count and the setting to change.
    */
  private[plans] def checkTaskBuffers(t: ShardTask, source: Source, factor: Shape3,
                                      fused: Boolean, partitionMode: String): Unit = {
    val read = source match {
      case FromHdf5 => None
      case FromPartials(_, tile, _) => Some("partial read" -> tile.voxels)
      case FromStore(_, src, _, _) =>
        val (lo, hi) = storeBox(t, factor, src)
        Some("×factor store source region" -> Shape3(hi.z - lo.z, hi.y - lo.y, hi.x - lo.x).voxels)
    }
    val emitted = if (fused) Some("next-level partial" -> partialShape(t, factor).voxels) else None
    (Seq("region" -> t.region.voxels) ++ read ++ emitted).foreach { case (what, n) =>
      if (n > Int.MaxValue) throw new IllegalArgumentException(
        s"${t.file} level ${t.level}: a task's $what is $n voxels, more than the " +
          s"${Int.MaxValue} one array holds; " +
          (if (partitionMode == "file") "use partitionMode \"shard\""
           else "lower the shard size"))
    }
  }

  /** One pooled RDD job over the tasks of one wave: each task gets its
    * region from its [[Source]], writes it, emits the next level's
    * partial if that level is fused, and returns its stats row.
    */
  private def runWave(
      spark: SparkSession, tasks: Seq[ShardTask], io: Map[(String, Int), TaskIo],
      serConf: Broadcast[SerializableConfiguration],
      progress: Option[Progress]): Seq[ShardStats] = {
    if (tasks.isEmpty) return Seq.empty
    // live bytes per task: the uint16 region plus the source it holds
    // beside it (one partial, or the ×factor source region), ×3 for
    // decode/encode scratch
    val maxTaskBytes = tasks.map { t =>
      val spec = io((t.file, t.level))
      val region = t.region.voxels
      spec.source match {
        case FromHdf5 => region * 2L
        case FromPartials(_, tile, _) => (region + tile.voxels) * 2L
        case _: FromStore => region * spec.factor.voxels * 2L
      }
    }.max * 3
    val partitions = memoryCappedParallelism(spark, tasks.size, maxTaskBytes)
    val threads = encodeThreads(spark, partitions)
    // parallelize slices the task list directly — repartition() would
    // add the conversion path's ONLY shuffle for nothing (and local-mode
    // shuffle RPC stalls for minutes under gVisor on multi-GB runs)
    spark.sparkContext.parallelize(tasks, partitions).mapPartitions { it =>
      val conf = serConf.value.value
      // one reader per (partition, file): the reference holds one HDF5
      // handle per worker-file (D5, `imaris_job.py:601-609`); the chunk
      // index is cached per (file, level) — re-walking the B-tree per
      // task would multiply metadata I/O by the task count
      val readers = scala.collection.mutable.Map.empty[String, Hdf5Reader]
      val datasets = scala.collection.mutable.Map.empty[(String, Int), Hdf5Reader.Dataset]
      // close on task completion, not iterator exhaustion — a failure
      // mid-partition would otherwise leak the open input streams
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => readers.values.foreach(_.close())))
      // ONE buffer of each kind per partition, reused across its tasks: a
      // fresh 268 MB humongous array per 512³ task was the pipeline's
      // dominant allocation (and concurrent humongous allocation is
      // pathologically slow under syscall-intercepting sandboxes)
      // checkTaskBuffers keeps every size below 2³¹ (planning time)
      var regionBuf: Array[Short] = Array.emptyShortArray  // the task's region
      var srcBuf: Array[Short] = Array.emptyShortArray     // a partial or the ×factor source
      var partialBuf: Array[Short] = Array.emptyShortArray // the next level's partial
      lazy val partialScratch = new PartialStore.Scratch
      def grown(buf: Array[Short], n: Long): Array[Short] =
        if (buf.length >= n) buf else new Array[Short](n.toInt)
      it.map { t =>
        val spec = io((t.file, t.level))
        val f = spec.factor
        val origin = Shape3(t.z0, t.y0, t.x0)
        val end = Shape3(t.z1, t.y1, t.x1)
        val shape = t.region.shape
        regionBuf = grown(regionBuf, shape.voxels)
        spec.source match {
          case FromHdf5 =>
            val r = readers.getOrElseUpdate(t.file, new Hdf5Reader(t.file, conf))
            val ds = datasets.getOrElseUpdate((t.file, t.level),
              r.openDataset(Imaris.dataPath(t.level)))
            r.readRegionInto(ds, t.z0, t.z1, t.y0, t.y1, t.x0, t.x1, regionBuf)
          case FromPartials(dir, tile, levelShape) =>
            // a plain region copy over 1/∏factor of the source bytes; the
            // partials tile the level, so every region voxel is written
            Voxels.forEachTile(origin, end, tile, levelShape) { p =>
              srcBuf = grown(srcBuf, p.shape.voxels)
              PartialStore.readInto(conf, s"$dir/${p.gz}_${p.gy}_${p.gx}",
                p.shape, srcBuf, partialScratch)
              Voxels.copyBox(srcBuf, p.shape, p.origin, regionBuf, shape, origin, p.lo, p.extent)
            }
          case FromStore(levelDir, src, srcShard, srcChunk) =>
            val (lo, hi) = storeBox(t, f, src)
            val srcShape = Shape3(hi.z - lo.z, hi.y - lo.y, hi.x - lo.x)
            srcBuf = grown(srcBuf, srcShape.voxels)
            if (spec.zarrFormat == 2)
              ZarrV2.readRegionInto(conf, levelDir, src, srcChunk,
                lo.z, hi.z, lo.y, hi.y, lo.x, hi.x, srcBuf, spec.separator)
            else ZarrRegion.readInto(conf, levelDir, src, srcShard, srcChunk,
              lo.z, hi.z, lo.y, hi.y, lo.x, hi.x, srcBuf)
            Downsample.reduceInto(srcBuf, srcShape, shape, f, spec.mode, regionBuf)
        }
        // streaming encode+write: peak task state is the voxel region +
        // one chunk per encode thread, not an extra fully-assembled shard
        val (key, written) =
          if (spec.zarrFormat == 2)
            (ZarrV2.chunkKey(t.sz, t.sy, t.sx, spec.separator),
              ZarrV2.writeRegionChunks(conf, s"${spec.store}/${t.level}", regionBuf,
                shape, origin, spec.chunk, spec.cname, spec.zstdLevel, spec.shuffle, spec.separator))
          else {
            val k = ZarrV3.shardKey(t.sz, t.sy, t.sx)
            (k, ZarrV3.writeShard(conf, s"${spec.store}/${t.level}/$k",
              regionBuf, shape, spec.shard, spec.chunk, spec.zstdLevel, spec.codec, threads))
          }
        if (spec.partialDir.nonEmpty) {
          val pShape = partialShape(t, f)
          partialBuf = grown(partialBuf, pShape.voxels)
          Downsample.reduceInto(regionBuf, shape, pShape, f, spec.mode, partialBuf)
          PartialStore.write(conf,
            s"${spec.partialDir}/${t.sz}_${t.sy}_${t.sx}", partialBuf, pShape,
            partialScratch)
        }
        progress.foreach { p => p.shards.add(1L); p.bytes.add(written) }
        ShardStats(t.file, t.level, key, written, shape.voxels)
      }
    }.collect().toSeq
  }
}

/** Scratch store for fused partial reductions (one blob per task of the
  * level below): 12-byte header of int32-BE dims, then a zstd-1 compressed
  * little-endian int16 payload. Lives at `<store>/<level>/.partial/`
  * between the wave that writes it and the wave that assembles it,
  * deleted by the driver after.
  * zstd level 1 (not the store's clevel): this data is written once, read
  * once, and deleted — cheap-to-encode beats small-on-disk.
  */
object PartialStore {
  import graft.core.Geometry.Shape3
  import com.github.luben.zstd.Zstd

  /** Grow-only byte scratch for [[write]]/[[readInto]]: one per partition,
    * reused across tasks — the raw int16 image of a 512³/2× partial is
    * ~33 MB, and a fresh copy (plus a compressed copy, plus a header
    * concat) per task would recreate exactly the per-task humongous-
    * allocation churn the wave's regionBuf/partialBuf reuse eliminates.
    */
  final class Scratch {
    private[PartialStore] var raw: Array[Byte] = Array.emptyByteArray
    private[PartialStore] var packed: Array[Byte] = Array.emptyByteArray
    private[PartialStore] def ensure(n: Int, bound: Int): Unit = {
      if (raw.length < n) raw = new Array[Byte](n)
      if (packed.length < 12 + bound) packed = new Array[Byte](12 + bound)
    }
  }

  def write(conf: org.apache.hadoop.conf.Configuration, path: String,
            data: Array[Short], shape: Shape3, scratch: Scratch): Unit = {
    val n = shape.voxels.toInt
    val bound = Zstd.compressBound(n.toLong * 2).toInt
    scratch.ensure(n * 2, bound)
    Voxels.toLE(data, n, scratch.raw)
    // header + payload share one reused buffer: int32-BE dims at [0,12),
    // zstd-1 stream compressed directly at offset 12 — zero extra copies
    val dst = scratch.packed
    val bb = java.nio.ByteBuffer.wrap(dst, 0, 12)
    bb.putInt(shape.z.toInt).putInt(shape.y.toInt).putInt(shape.x.toInt)
    val m = Zstd.compressByteArray(dst, 12, dst.length - 12, scratch.raw, 0, n * 2, 1).toInt
    graft.sinks.ZarrV3.write(conf, path, dst, 12 + m)
  }

  /** Read a partial into a caller-owned (possibly oversized, REUSED)
    * buffer; the stored dims must equal `expect` (planner geometry).
    */
  def readInto(conf: org.apache.hadoop.conf.Configuration, path: String,
               expect: Shape3, out: Array[Short], scratch: Scratch): Array[Short] = {
    val bytes = graft.sinks.ZarrV3.read(conf, path)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val got = Shape3(bb.getInt.toLong, bb.getInt.toLong, bb.getInt.toLong)
    require(got == expect, s"partial $path dims $got, planner expected $expect")
    val n = got.voxels.toInt
    require(out.length >= n, s"partial buffer ${out.length} < $n")
    scratch.ensure(n * 2, 0)
    val m = Zstd.decompressByteArray(scratch.raw, 0, n * 2, bytes, 12, bytes.length - 12)
    require(m == n * 2, s"partial $path expanded to $m, want ${n * 2}")
    Voxels.fromLE(scratch.raw, 0, out, n)
    out
  }
}

/** Region reader over our own Zarr v3 sharded level (used by the compute
  * pyramid path and the round-trip tests).
  */
object ZarrRegion {
  import graft.core.Geometry.Shape3

  def read(conf: org.apache.hadoop.conf.Configuration,
           levelDir: String, shape: Shape3, shard: Shape3, chunk: Shape3,
           z0: Long, z1: Long, y0: Long, y1: Long, x0: Long, x1: Long): Array[Short] =
    readInto(conf, levelDir, shape, shard, chunk, z0, z1, y0, y1, x0, x1,
      new Array[Short](((z1 - z0) * (y1 - y0) * (x1 - x0)).toInt))

  /** [[read]] into a caller-owned (possibly oversized, REUSED) region
    * buffer; only the inner chunks the region overlaps are decoded.
    * Returns `out`.
    */
  def readInto(conf: org.apache.hadoop.conf.Configuration,
               levelDir: String, shape: Shape3, shard: Shape3, chunk: Shape3,
               z0: Long, z1: Long, y0: Long, y1: Long, x0: Long, x1: Long,
               out: Array[Short]): Array[Short] = {
    val region = Shape3(z1 - z0, y1 - y0, x1 - x0)
    require(out.length >= region.voxels, s"region buffer ${out.length} < ${region.voxels}")
    val lo = Shape3(z0, y0, x0)
    Voxels.forEachTile(lo, Shape3(z1, y1, x1), shard, shape) { t =>
      val path = s"$levelDir/${ZarrV3.shardKey(t.gz, t.gy, t.gx)}"
      ZarrV3.openShard(ZarrV3.read(conf, path), shard, chunk, path)
        .copyBoxInto(t.origin, t.lo, t.hi, out, region, lo)
    }
    out
  }
}

/** Windowed spatial reduce kernel (reference A1,
  * `create_downsample_dataset` `imaris_to_zarr.py:532-674`; modes doc
  * `:563-570`). Runs block-local inside one task — no shuffle (X6).
  *
  * Tie-breaking (documented, deterministic — the reference delegates to
  * TensorStore): `median` of an even window = lower middle of the sorted
  * window; `mode` = smallest value among the most frequent.
  */
object Downsample {
  import graft.core.Geometry.Shape3

  def reduce(src: Array[Short], srcShape: Shape3, dstShape: Shape3,
             f: Shape3, mode: String): Array[Short] =
    reduceInto(src, srcShape, dstShape, f, mode,
      new Array[Short](dstShape.voxels.toInt))

  /** [[reduce]] into a caller-owned (possibly oversized, REUSED) output
    * buffer; every dstShape cell is written, so stale tail bytes beyond
    * the extent are never read downstream. `dstShape` may be smaller than
    * ceil(srcShape / f), never larger. Returns `out`.
    */
  def reduceInto(src: Array[Short], srcShape: Shape3, dstShape: Shape3,
                 f: Shape3, mode: String, out: Array[Short]): Array[Short] = {
    require(out.length >= dstShape.voxels,
      s"reduce buffer ${out.length} < ${dstShape.voxels}")
    require(dstShape.z <= Geometry.ceilDiv(srcShape.z, f.z) &&
      dstShape.y <= Geometry.ceilDiv(srcShape.y, f.y) &&
      dstShape.x <= Geometry.ceilDiv(srcShape.x, f.x),
      s"reduce extent $dstShape exceeds ceil($srcShape / $f)")
    mode match {
      case "stride" => fold(src, srcShape, dstShape, f, Stride, out)
      case "mean" => fold(src, srcShape, dstShape, f, Mean, out)
      case "min" => fold(src, srcShape, dstShape, f, Min, out)
      case "max" => fold(src, srcShape, dstShape, f, Max, out)
      case "median" | "mode" => sortedWindows(src, srcShape, dstShape, f, mode == "median", out)
      case other => sys.error(s"unknown downsample mode: $other")
    }
    out
  }

  private final val Stride = 0
  private final val Mean = 1
  private final val Min = 2
  private final val Max = 3

  /** stride/mean/min/max: each source row of an output row's windows is
    * folded into one per-output-row accumulator, x with a stride of f.x
    * over the full windows plus the clipped tail window when there is
    * one. Windows clipped at the source edge count only their voxels;
    * the mean truncates.
    */
  private def fold(src: Array[Short], s: Shape3, d: Shape3, f: Shape3, op: Int,
                   out: Array[Short]): Unit = {
    val sx = s.x.toInt; val fx = f.x.toInt; val dX = d.x.toInt
    val full = math.min(dX, sx / fx) // output cells whose x window is whole
    val tail = full < dX              // then dX == full + 1: the clipped window [full·fx, sx)
    val acc = new Array[Long](dX)
    var dz = 0L
    while (dz < d.z) {
      val z0 = dz * f.z; val z1 = math.min(z0 + f.z, s.z)
      var dy = 0L
      while (dy < d.y) {
        val y0 = dy * f.y; val y1 = math.min(y0 + f.y, s.y)
        val o = ((dz * d.y + dy) * d.x).toInt
        if (op == Stride) {
          val base = ((z0 * s.y + y0) * s.x).toInt
          var dx = 0
          while (dx < dX) { out(o + dx) = src(base + dx * fx); dx += 1 }
        } else {
          java.util.Arrays.fill(acc, if (op == Min) 0xffffL else 0L)
          var wz = z0
          while (wz < z1) {
            var wy = y0
            while (wy < y1) {
              val base = ((wz * s.y + wy) * s.x).toInt
              var k = 0
              while (k < fx) {
                var i = base + k; var dx = 0
                if (op == Mean) while (dx < full) { acc(dx) += src(i) & 0xffff; i += fx; dx += 1 }
                else if (op == Min) while (dx < full) { acc(dx) = math.min(acc(dx), src(i) & 0xffff); i += fx; dx += 1 }
                else while (dx < full) { acc(dx) = math.max(acc(dx), src(i) & 0xffff); i += fx; dx += 1 }
                k += 1
              }
              if (tail) {
                var i = base + full * fx
                while (i < base + sx) {
                  val v = src(i) & 0xffff
                  acc(full) = if (op == Mean) acc(full) + v
                    else if (op == Min) math.min(acc(full), v) else math.max(acc(full), v)
                  i += 1
                }
              }
              wy += 1
            }
            wz += 1
          }
          val zy = (z1 - z0) * (y1 - y0)
          var dx = 0
          while (dx < dX) {
            out(o + dx) = (if (op != Mean) acc(dx)
              else acc(dx) / (zy * (if (dx < full) fx else sx - full * fx))).toShort
            dx += 1
          }
        }
        dy += 1
      }
      dz += 1
    }
  }

  /** median/mode: copy each window, clipped at the source edge, and sort
    * it. Even-window median = lower middle; mode = smallest of the most
    * frequent.
    */
  private def sortedWindows(src: Array[Short], s: Shape3, d: Shape3, f: Shape3,
                            median: Boolean, out: Array[Short]): Unit = {
    val window = new Array[Int]((f.z * f.y * f.x).toInt)
    var dz = 0L
    while (dz < d.z) {
      var dy = 0L
      while (dy < d.y) {
        var dx = 0L
        while (dx < d.x) {
          var n = 0
          var wz = dz * f.z
          val wzHi = math.min(wz + f.z, s.z)
          while (wz < wzHi) {
            var wy = dy * f.y
            val wyHi = math.min(wy + f.y, s.y)
            while (wy < wyHi) {
              var wx = dx * f.x
              val wxHi = math.min(wx + f.x, s.x)
              val base = ((wz * s.y + wy) * s.x).toInt
              while (wx < wxHi) {
                window(n) = src(base + wx.toInt) & 0xffff
                n += 1; wx += 1
              }
              wy += 1
            }
            wz += 1
          }
          java.util.Arrays.sort(window, 0, n)
          val v =
            if (median) window((n - 1) / 2)
            else {
              var best = window(0); var bestCnt = 1
              var cur = window(0); var curCnt = 1
              var i = 1
              while (i < n) {
                if (window(i) == cur) curCnt += 1
                else { cur = window(i); curCnt = 1 }
                if (curCnt > bestCnt) { best = cur; bestCnt = curCnt }
                i += 1
              }
              best
            }
          out(((dz * d.y + dy) * d.x + dx).toInt) = v.toShort
          dx += 1
        }
        dy += 1
      }
      dz += 1
    }
  }
}
