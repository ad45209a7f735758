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
  *    written by the DRIVER, on a small pool while the first wave runs —
  *    the reference's idempotent-create race workaround (W7,
  *    `imaris_to_zarr.py:1759-1831`) disappears because only one process
  *    initializes, and a failed document write fails the conversion;
  *  - voxel work runs in waves of `ShardTask`s, one plain RDD job each
  *    (`parallelize` + `mapPartitions` + `collect`: no SQL, so no Catalyst
  *    analysis, planning or encoder codegen per wave), all through ONE
  *    runner ([[runWave]]). A task gets its output region from its
  *    [[Source]]: its region of the Imaris dataset (level 0, and every
  *    level of a translated pyramid), the partials a lower wave reduced
  *    from the regions it held, or the previous level's store read at
  *    ×factor and reduced. It writes exactly one v3 shard or one
  *    shard-aligned set of v2 chunks (W4/X3) and returns a stats row (A5);
  *  - a task also emits the computed levels above its own while its
  *    region reduces to them exactly: it reduces once per level and, where
  *    the reduced region covers whole inner chunks of that level, encodes
  *    them itself — one chunk blob per task for v3, the chunk files at
  *    their final keys for v2. A v3 level fed by blobs runs one IO-only
  *    task per shard that copies its encoded chunks into the shard file in
  *    C order (`ZarrV3.assembleShard`), so each shard is still written
  *    whole by one task and the store is byte-identical. At the first
  *    level that is not chunk-aligned the task writes a raw partial
  *    instead, and that level is computed in the next wave;
  *  - so the level barrier (A3) falls only at the levels that are not
  *    chunk-aligned or cannot be reduced exactly from a task's region:
  *    with 512³ shards and 128³ chunks a 3-level pyramid runs the level-0
  *    wave and ONE wave that assembles levels 1 and 2;
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

  /** The conversion settings (reference `models.ImarisJobSettings`,
    * `models.py:20-143`): the one record every entry mode parses into
    * ([[JobSettings]] for JSON, config file, env and flags; the API
    * directly) and the one place each default is written. [[convertAll]]
    * runs [[Settings.validated]] on every file's settings before it plans
    * or writes anything.
    */
  final case class Settings(
      shard: Shape3 = Shape3(512, 512, 512),
      chunk: Shape3 = Shape3(128, 256, 256),
      // v3: the codec's level (zstd 1–22); v2: the blosc clevel (0–9)
      zstdLevel: Int = 3,
      codecName: String = "zstd",       // v3 chunk codec: zstd (reference chain) | blosc | gzip
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
      computeLevels: Int = 5,             // levels to materialize if not translating (reference default)
      downsampleMode: String = "mean",    // stride|median|mode|mean|min|max (models.py:79-85)
      scaleFactor: Shape3 = Shape3(2, 2, 2),
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
      // holds its source in memory: every task reduces its region to the
      // levels above and emits their encoded chunks, or a raw partial
      // (1/∏factor of its bytes) at a level whose chunks it does not
      // cover whole, so later waves assemble instead of decoding the
      // previous level's store. Requires the task region to stay
      // factor-aligned (shard % scaleFactor^k == 0 per dim) so no output
      // window crosses a source-task border; a level that breaks it falls
      // back to the store read. Output stores are byte-identical either
      // way (spec-asserted); false selects the store read everywhere.
      fuseDownsample: Boolean = true
  ) {

    /** Every rule on these settings; each message names the setting by
      * its job-settings key. Returns `this`, or throws
      * IllegalArgumentException.
      */
    def validated: Settings = {
      require(Settings.DownsampleModes.contains(downsampleMode),
        s"downsample_mode must be one of ${Settings.DownsampleModes.mkString("|")}, got: $downsampleMode")
      require(partitionMode == "file" || partitionMode == "shard",
        s"partition_mode must be file|shard, got: $partitionMode")
      require(computeLevels >= 1, s"downsample_levels must be >= 1, got: $computeLevels")
      if (zarrFormat == 2)
        require(zstdLevel >= 0 && zstdLevel <= 9,
          s"blosc clevel must be in [0,9] for zarr v2, got: $zstdLevel")
      else require(zstdLevel >= 1 && zstdLevel <= 22, s"zstd level must be in [1,22], got: $zstdLevel")
      require(Settings.Codecs.contains(codecName),
        s"codec must be ${Settings.Codecs.mkString("|")}, got: $codecName")
      require(zarrFormat == 2 || zarrFormat == 3, s"zarr_format must be 2|3, got: $zarrFormat")
      require(v2Separator == "." || v2Separator == "/",
        s"dimension_separator must be '.' or '/', got: $v2Separator")
      if (zarrFormat == 2) {
        require(Settings.BloscCnames.contains(bloscCname),
          s"blosc cname must be ${Settings.BloscCnames.mkString("|")}, got: $bloscCname")
        require(graft.sinks.Blosc.ShuffleNames.values.exists(_ == bloscShuffle),
          s"shuffle must be one of -1..2, got: $bloscShuffle")
      }
      for ((s, k) <- Seq((shard, "shard_size"), (chunk, "chunk_size"), (scaleFactor, "scale_factor")))
        require(s.z > 0 && s.y > 0 && s.x > 0, s"$k must be three positive integers, got: $s")
      this
    }
  }

  object Settings {
    val DownsampleModes: Seq[String] = Seq("stride", "median", "mode", "mean", "min", "max")
    val Codecs: Seq[String] = Seq("zstd", "blosc", "gzip")
    val BloscCnames: Seq[String] = Seq("zstd", "lz4", "lz4hc", "zlib", "snappy")
  }

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

  /** Where a level's voxels come from. */
  private[plans] sealed trait Source extends Serializable
  /** The task's region of the Imaris dataset at its level. */
  private[plans] case object FromHdf5 extends Source
  /** Assembled from the partials a lower level's tasks reduced under
    * `dir`: partial (gz, gy, gx) covers tile (gz, gy, gx) of this level's
    * `tile` grid, clipped to `levelShape`.
    */
  private[plans] final case class FromPartials(dir: String, tile: Shape3, levelShape: Shape3) extends Source
  /** The ×factor region of the previous level's store, read and reduced. */
  private[plans] final case class FromStore(
      levelDir: String, shape: Shape3, shard: Shape3, chunk: Shape3) extends Source
  /** v3: the level's inner chunks, already encoded by a lower level's
    * tasks into one chunk blob each under `dir` (blob (gz, gy, gx) covers
    * tile (gz, gy, gx) of the `tile` grid, clipped to `levelShape`). The
    * level's tasks only assemble shards from them (`ZarrV3.assembleShard`).
    */
  private[plans] final case class FromChunks(dir: String, tile: Shape3, levelShape: Shape3) extends Source
  /** v2: a lower level's tasks wrote the level's chunk files at their
    * final keys, so the level runs no task of its own.
    */
  private[plans] case object Emitted extends Source

  /** A level above its own that a task emits by reducing its region once
    * more: the level's chunks (a chunk blob under `dir` for v3, the chunk
    * files in the level dir `dir` for v2), or a raw partial under `dir`
    * when the reduced region does not cover whole chunks of the level.
    */
  private final case class Emit(level: Int, dir: String, chunk: Shape3, shard: Shape3,
                                levelShape: Shape3, partial: Boolean)

  /** Per-(file, level) parameters an executor task resolves from its
    * ShardTask key: the file's settings, the level's clamped chunk and
    * shard, its source, and the levels its tasks emit.
    */
  private final case class TaskIo(
      store: String, chunk: Shape3, shard: Shape3, settings: Settings, source: Source,
      emits: Seq[Emit])

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
    * in later pooled jobs, again across all files at once: one per level
    * that is not chunk-aligned, plus the IO-only shard assembly of the
    * aligned levels, which rides in the wave after their source level.
    *
    * At 100 TB / 1000 executors this is the difference between ~n_files ×
    * n_levels tiny jobs (each with its own straggler tail) and a few jobs
    * whose ~400k pooled tasks bin-pack the cluster.
    */
  def convertAll(spark: SparkSession, imsPaths: Seq[String], outDir: String,
                 settingsFor: String => Settings,
                 progress: Option[Progress] = None): Seq[ShardStats] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    // ONE broadcast of the Hadoop conf (~100 KB serialized) for every
    // wave: captured in each wave's closure, it would be serialized per
    // job and deserialized per task, on the critical path of every wave
    val serConf = spark.sparkContext.broadcast(new SerializableConfiguration(hconf))

    // Fail before ANY metadata is written: a bad setting caught only on
    // an executor would leave a partially written store whose metadata
    // already names it (a codec, a separator) or a level 0 without its
    // pyramid (a downsample mode).
    val fileSettings = imsPaths.map { p =>
      try settingsFor(p).validated
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"${e.getMessage} (input $p)", e) }
    }

    // ---- driver-side planning, metadata-only (W7→driver, W9, X9) ----
    // `metadata` holds every store document as (path, JSON); the driver
    // writes them once every plan has passed its checks
    final case class FilePlan(file: String, settings: Settings, store: String,
                              trueShapes: Seq[Shape3], specs: Seq[(Shape3, Shape3)],
                              metadata: Seq[(String, String)])
    val plans = imsPaths.zip(fileSettings).map { case (imsPath, settings) =>
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
          (c, Geometry.cover(ts, c))
        } else Geometry.clampSpec(ts, settings.chunk, settings.shard)
      }
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
    def scratchDir(p: FilePlan, level: Int, kind: String): String = s"${p.store}/$level/$kind"
    // every scratch dir this plan COULD use (any run mode): stale-scratch
    // cleanup must not depend on the current run's fusion decisions
    def allScratchDirs(p: FilePlan): Seq[String] =
      for (l <- 1 until math.max(2, p.settings.computeLevels); k <- Seq(".partial", ".chunks"))
        yield scratchDir(p, l, k)
    // Each level's source, the levels each computed level's tasks emit,
    // and the wave each level's tasks run in. A computed level s walks up:
    // while its tasks' regions still reduce exactly to level m (fusion on,
    // shard mode, S_s % f^(m-s) == 0, so no window crosses a task border),
    // level m takes its chunks from the s-tasks if their reduced regions
    // (tiles of S_s / f^(m-s)) cover whole level-m chunks: origins
    // chunk-aligned, extents a chunk multiple or clipped at the level
    // edge. The first level that is not aligned takes one raw partial per
    // s-task and becomes a computed level, starting its own walk; a level
    // the s-tasks cannot reduce to exactly reads the previous level's
    // store instead. So the level barrier falls only at those levels.
    final case class LevelPlan(source: Source, emits: Seq[Emit], wave: Int)
    def levelPlans(p: FilePlan): IndexedSeq[LevelPlan] = {
      val cfg = p.settings
      val f = cfg.scaleFactor
      val n = p.trueShapes.length
      val source = Array.fill[Source](n)(FromHdf5)
      val emits = Array.fill(n)(Vector.empty[Emit])
      val wave = Array.fill(n)(0)
      if (!cfg.translatePyramid) {
        var s = 0
        var tile = p.specs(0)._2 // an s-task's region at level m - 1, away from the edge
        for (m <- 1 until n) {
          val (chunkM, shardM) = p.specs(m)
          if (cfg.fuseDownsample && cfg.partitionMode == "shard" &&
              tile.z % f.z == 0 && tile.y % f.y == 0 && tile.x % f.x == 0) {
            tile = Shape3(tile.z / f.z, tile.y / f.y, tile.x / f.x)
            val tasks = Geometry.shardGrid(p.trueShapes(s), p.specs(s)._2)
            def whole(count: Long, t: Long, c: Long): Boolean = count == 1 || t % c == 0
            if (whole(tasks.z, tile.z, chunkM.z) && whole(tasks.y, tile.y, chunkM.y) &&
                whole(tasks.x, tile.x, chunkM.x)) {
              val dir = if (cfg.zarrFormat == 2) s"${p.store}/$m" else scratchDir(p, m, ".chunks")
              emits(s) :+= Emit(m, dir, chunkM, shardM, p.trueShapes(m), partial = false)
              if (cfg.zarrFormat == 2) { source(m) = Emitted; wave(m) = wave(s) }
              else { source(m) = FromChunks(dir, tile, p.trueShapes(m)); wave(m) = wave(s) + 1 }
            } else {
              val dir = scratchDir(p, m, ".partial")
              emits(s) :+= Emit(m, dir, chunkM, shardM, p.trueShapes(m), partial = true)
              source(m) = FromPartials(dir, tile, p.trueShapes(m))
              wave(m) = wave(s) + 1
              s = m; tile = shardM
            }
          } else {
            source(m) = FromStore(s"${p.store}/${m - 1}", p.trueShapes(m - 1), p.specs(m - 1)._2,
              p.specs(m - 1)._1)
            wave(m) = wave(m - 1) + 1
            s = m; tile = shardM
          }
        }
      }
      (0 until n).map(l => LevelPlan(source(l), emits(l), wave(l)))
    }
    val levels: Map[String, IndexedSeq[LevelPlan]] = plans.map(p => p.file -> levelPlans(p)).toMap
    val io: Map[(String, Int), TaskIo] = plans.flatMap { p =>
      p.trueShapes.indices.map { l =>
        val (chunkL, shardL) = p.specs(l)
        val lp = levels(p.file)(l)
        (p.file, l) -> TaskIo(p.store, chunkL, shardL, p.settings, lp.source, lp.emits)
      }
    }.toMap
    // a wave holds, across files, every level whose source is complete
    // after the wave before it (wave 0: every level read from an Imaris
    // file). A file's tasks stay contiguous, so most partitions touch few
    // files and the per-partition reader cache hits.
    val waves: Seq[Seq[ShardTask]] =
      (0 to plans.flatMap(p => levels(p.file).map(_.wave)).maxOption.getOrElse(-1)).map { w =>
        for {
          p <- plans
          l <- p.trueShapes.indices
          lp = levels(p.file)(l) if lp.wave == w && lp.source != Emitted
          t <- Geometry.shardTasks(p.file, l, TrueShape(p.trueShapes(l)), p.specs(l)._2)
        } yield t
      }

    // a task buffer past one JVM array would fail on an executor after
    // the store was initialised: reject the plan before any metadata
    waves.foreach(_.foreach { t =>
      val spec = io((t.file, t.level))
      checkTaskBuffers(t, spec.source, spec.settings.scaleFactor, spec.emits.nonEmpty,
        spec.settings.partitionMode)
    })

    // drop any fused-reduction scratch left by a PREVIOUS failed run
    // regardless of THIS run's fusion mode: a crash between a wave and
    // cleanup leaves `<store>/<l>/.partial` or `.chunks` on disk, and a
    // later successful run (fused or not) must not ship it — the
    // finished-store invariant is "spec-defined keys only". Also guards
    // the fused path against assembling stale scratch from an aborted
    // earlier attempt.
    def dropScratch(): Unit = plans.foreach(allScratchDirs(_).foreach { d =>
      val dir = new org.apache.hadoop.fs.Path(d)
      try dir.getFileSystem(hconf).delete(dir, true)
      catch { case _: java.io.IOException => () }
    })
    dropScratch()

    // the store documents are written on a small pool while wave 0 runs:
    // one create (with parent mkdirs) each, off the critical path. A
    // failed write fails the conversion once the wave is done.
    val docs = plans.flatMap(_.metadata)
    val docPool = java.util.concurrent.Executors.newFixedThreadPool(math.min(4, math.max(1, docs.size)))
    val docWrites = docs.map { case (path, doc) =>
      java.util.concurrent.CompletableFuture.runAsync(() => ZarrV3.writeString(hconf, path, doc), docPool)
    }
    docPool.shutdown()
    def awaitDocs(): Unit = docWrites.foreach { w =>
      try w.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }

    // ---- live progress: log as shard completions stream in (A5) ----
    val totalShards = plans.map(p => p.trueShapes.indices.map(l =>
      Geometry.shardGrid(p.trueShapes(l), p.specs(l)._2).voxels).sum).sum
    val listener = progress.map { p =>
      val logEvery = math.max(1L, totalShards / 10L)
      val lastLogged = new java.util.concurrent.atomic.AtomicLong(0L)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val done = p.shards.value
          if (done / logEvery > lastLogged.getAndSet(done) / logEvery)
            println(s"[ims-to-zarr] progress: $done/$totalShards shards, " +
              s"${p.bytes.value} bytes")
        }
      }
      spark.sparkContext.addSparkListener(l)
      l
    }

    try {
      val first = waves.headOption.toSeq.flatMap(runWave(spark, _, io, serConf, progress))
      awaitDocs()
      val rows = first ++ waves.drop(1).flatMap(runWave(spark, _, io, serConf, progress))
      // a v2 level written by a lower level's tasks comes back as one row
      // per (task, shard) piece: sum each shard's pieces
      val shards = scala.collection.mutable.LinkedHashMap.empty[(String, Int, String), ShardStats]
      rows.foreach { r =>
        shards.updateWith((r.file, r.level, r.key))(m => Some(m.fold(r)(m =>
          m.copy(bytesWritten = m.bytesWritten + r.bytesWritten, voxels = m.voxels + r.voxels))))
      }
      shards.values.toSeq
    } finally {
      serConf.destroy()
      listener.foreach(spark.sparkContext.removeSparkListener)
      // fused-reduction scratch is consumed by a later wave; remove every
      // level's dir even on failure so a partially written store never
      // carries non-spec keys into a rerun
      dropScratch()
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

  /** The box [lo, hi) of one level reduced by `f`: the box it covers in
    * the next level. The planner keeps `lo` factor-aligned and `hi`
    * factor-aligned or at the level edge, so every output window is wholly
    * inside the box and the reduction is exact.
    */
  private def reducedBox(lo: Shape3, hi: Shape3, f: Shape3): (Shape3, Shape3) =
    (Shape3(lo.z / f.z, lo.y / f.y, lo.x / f.x),
      Shape3(Geometry.ceilDiv(hi.z, f.z), Geometry.ceilDiv(hi.y, f.y), Geometry.ceilDiv(hi.x, f.x)))

  private def extent(lo: Shape3, hi: Shape3): Shape3 = Shape3(hi.z - lo.z, hi.y - lo.y, hi.x - lo.x)

  /** Reject task `t` when its region, the source it reads beside it (a
    * partial, or the ×factor store region) or the partial it emits
    * (`fused`) holds more voxels than one JVM array. The driver runs this
    * for every task before it writes any metadata; the message names the
    * file, the level, the voxel count and the setting to change.
    */
  private[plans] def checkTaskBuffers(t: ShardTask, source: Source, factor: Shape3,
                                      fused: Boolean, partitionMode: String): Unit = {
    val read = source match {
      case FromHdf5 | _: FromChunks | Emitted => None
      case FromPartials(_, tile, _) => Some("partial read" -> tile.voxels)
      case FromStore(_, src, _, _) =>
        val (lo, hi) = storeBox(t, factor, src)
        Some("×factor store source region" -> extent(lo, hi).voxels)
    }
    val emitted = if (!fused) None else {
      val (lo, hi) = reducedBox(Shape3(t.z0, t.y0, t.x0), Shape3(t.z1, t.y1, t.x1), factor)
      Some("next-level partial" -> extent(lo, hi).voxels)
    }
    (Seq("region" -> t.region.voxels) ++ read ++ emitted).foreach { case (what, n) =>
      if (n > Int.MaxValue) throw new IllegalArgumentException(
        s"${t.file} level ${t.level}: a task's $what is $n voxels, more than the " +
          s"${Int.MaxValue} one array holds; " +
          (if (partitionMode == "file") "use partitionMode \"shard\""
           else "lower the shard size"))
    }
  }

  /** One pooled RDD job over the tasks of one wave. A task of a level
    * with chunk blobs assembles its shard from them. Any other task gets
    * its region from its [[Source]], writes it, then walks up through the
    * levels it emits: it reduces the region once per level and writes that
    * level's chunk blob (v3), its chunk files (v2) or, at the last one, a
    * raw partial. Each task returns its stats row, plus one row per shard
    * piece of each v2 level it wrote.
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
        case FromPartials(_, tile, _) => (region + tile.voxels) * 2L
        case _: FromStore => region * spec.settings.scaleFactor.voxels * 2L
        case _ => region * 2L
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
      // the emitted levels' regions, alternately (each is reduced from the one before)
      val emitBufs = Array(Array.emptyShortArray, Array.emptyShortArray)
      lazy val partialScratch = new PartialStore.Scratch
      def grown(buf: Array[Short], n: Long): Array[Short] =
        if (buf.length >= n) buf else new Array[Short](n.toInt)
      def done(row: ShardStats, shards: Long): ShardStats = {
        progress.foreach { p => p.shards.add(shards); p.bytes.add(row.bytesWritten) }
        row
      }
      it.flatMap { t =>
        val spec = io((t.file, t.level))
        val cfg = spec.settings
        val f = cfg.scaleFactor
        val origin = Shape3(t.z0, t.y0, t.x0)
        val end = Shape3(t.z1, t.y1, t.x1)
        val shape = t.region.shape
        spec.source match {
          case FromChunks(dir, tile, levelShape) =>
            val k = ZarrV3.shardKey(t.sz, t.sy, t.sx)
            val written = ZarrV3.assembleShard(conf, s"${spec.store}/${t.level}/$k",
              levelShape, origin, spec.shard, spec.chunk, tile, dir)
            Seq(done(ShardStats(t.file, t.level, k, written, shape.voxels), 1L))
          case source =>
            regionBuf = grown(regionBuf, shape.voxels)
            source match {
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
                val srcShape = extent(lo, hi)
                srcBuf = grown(srcBuf, srcShape.voxels)
                if (cfg.zarrFormat == 2)
                  ZarrV2.readRegionInto(conf, levelDir, src, srcChunk,
                    lo.z, hi.z, lo.y, hi.y, lo.x, hi.x, srcBuf, cfg.v2Separator)
                else ZarrRegion.readInto(conf, levelDir, src, srcShard, srcChunk,
                  lo.z, hi.z, lo.y, hi.y, lo.x, hi.x, srcBuf)
                Downsample.reduceInto(srcBuf, srcShape, shape, f, cfg.downsampleMode, regionBuf)
              case other => sys.error(s"a level with source $other runs no region task")
            }
            // streaming encode+write: peak task state is the voxel region +
            // one chunk per encode thread, not an extra fully-assembled shard
            val (key, written) =
              if (cfg.zarrFormat == 2)
                (ZarrV2.chunkKey(t.sz, t.sy, t.sx, cfg.v2Separator),
                  ZarrV2.writeRegionChunks(conf, s"${spec.store}/${t.level}", regionBuf,
                    shape, origin, spec.chunk, cfg.bloscCname, cfg.zstdLevel, cfg.bloscShuffle, cfg.v2Separator))
              else {
                val k = ZarrV3.shardKey(t.sz, t.sy, t.sx)
                (k, ZarrV3.writeShard(conf, s"${spec.store}/${t.level}/$k",
                  regionBuf, shape, spec.shard, spec.chunk, cfg.zstdLevel, cfg.codecName, threads))
              }
            val rows = Seq.newBuilder[ShardStats]
            rows += done(ShardStats(t.file, t.level, key, written, shape.voxels), 1L)
            var (lo, hi, data) = (origin, end, regionBuf)
            spec.emits.zipWithIndex.foreach { case (e, i) =>
              val (eLo, eHi) = reducedBox(lo, hi, f)
              val eShape = extent(eLo, eHi)
              emitBufs(i % 2) = grown(emitBufs(i % 2), eShape.voxels)
              val out = emitBufs(i % 2)
              Downsample.reduceInto(data, extent(lo, hi), eShape, f, cfg.downsampleMode, out)
              val blob = s"${e.dir}/${t.sz}_${t.sy}_${t.sx}"
              if (e.partial) PartialStore.write(conf, blob, out, eShape, partialScratch)
              else if (cfg.zarrFormat == 2)
                // one row per piece of each level-e shard the region overlaps;
                // the piece holding the shard's origin counts the shard
                Voxels.forEachTile(eLo, eHi, e.shard, e.levelShape) { sh =>
                  val n = ZarrV2.writeBoxChunks(conf, e.dir, out, eShape, eLo, sh.lo, sh.hi, e.chunk,
                    cfg.bloscCname, cfg.zstdLevel, cfg.bloscShuffle, cfg.v2Separator)
                  rows += done(ShardStats(t.file, e.level,
                    ZarrV2.chunkKey(sh.gz, sh.gy, sh.gx, cfg.v2Separator), n, sh.extent.voxels),
                    if (sh.lo == sh.origin) 1L else 0L)
                }
              else
                // the chunk blob: a shard file over the reduced region's chunk cover
                ZarrV3.writeShard(conf, blob, out, eShape, Geometry.cover(eShape, e.chunk),
                  e.chunk, cfg.zstdLevel, cfg.codecName, threads)
              lo = eLo; hi = eHi; data = out
            }
            rows.result()
        }
      }
    }.collect().toSeq
  }
}

/** Scratch store for fused partial reductions (one blob per task of the
  * lower level that emits it): 12-byte header of int32-BE dims, then a
  * zstd-1 compressed little-endian int16 payload. Lives at
  * `<store>/<level>/.partial/` between the wave that writes it and the
  * wave that assembles it, deleted by the driver after.
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
