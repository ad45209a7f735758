package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Session factory tuned for the local[32] test harness but configured the
  * way a production cluster session would be: AQE on (runtime re-plan,
  * skew-join handling), UTC, broadcast threshold generous enough that the
  * TPC-H-ish dims (region/nation/supplier/customer at test SF) broadcast.
  */
object GraftSession {
  /** Confs shared by EVERY graft session (local harness or cluster) —
    * one definition so the two profiles cannot fork on the semantics-
    * bearing settings.
    *
    *   - `nanosAsLong`: dual-layout contract for events.ts (see
    *     [[EventTime]]) — a TIMESTAMP(NANOS) generation loads as BIGINT
    *     nanos instead of failing the scan; inert for µs layouts.
    *   - `codegen.cache.maxEntries` 2000: the 90-query surface exceeds
    *     the default 100 cached codegen units, so a multi-query session
    *     recompiled every plan on revisit — janino time is fixed engine
    *     overhead, not a plan property. Static conf (pre-first-session).
    *   - `codegen.maxFields` 1024: whole-stage codegen self-disables
    *     above 100 plan fields, which wide aggregations (q_c9 Lloyd
    *     partial sums carry dim+2 columns) cross routinely; measured
    *     dim-384 Lloyd 4.0 s interpreted vs 3.5 s codegen'd, no janino
    *     blowout at 770 fields. 1024 covers dim-768 with margin.
    */
  private[graft] val baseConfs: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.codegen.maxFields" -> "1024")

  /** Conf deltas for a real multi-executor cluster — the measured
    * "right locally, different at scale" knowledge shipped as code
    * rather than prose (the three scoped negatives in PERF.md):
    *
    *   - `shuffle.partitions` (default 2048 here vs 32 locally): at
    *     corpus scale the 32-partition shuffles overfill and spill;
    *     this is the first knob to raise — the measured q_c3-class
    *     gain was ~25 %.
    *   - AQE `initialPartitionNum` = 4× shuffle partitions: lets AQE
    *     re-plan heavy shuffles UP. Measured locally: q_c3 cold
    *     93.1 → 71.2 s at scale10, but +24-33 % on every sf0.1-sized
    *     query from many-small-block overhead under the sandbox's
    *     syscall floor — so it ships in the cluster profile ONLY.
    *   - `maxPartitionBytes` back at Spark's 128 MB default: the local
    *     16 MB exists because the harness tables are single small
    *     files; a real multi-file corpus splits naturally and 16 MB
    *     would tax map-side combine (the measured 4 MB failure mode).
    *   - `spark.graft.broadcastBytes` stays 64 MB: past ~64 MB a
    *     shuffle join's extra exchange beats per-executor rebroadcast
    *     (the declared-intent ceiling [[Sizing]] enforces).
    */
  def clusterConfs(shufflePartitions: Int = 2048): Map[String, String] =
    baseConfs ++ Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        (shufflePartitions * 4).toString,
      "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
      "spark.graft.broadcastBytes" -> (64L * 1024 * 1024).toString,
      // narrow rerank windows: at production embedding widths the query
      // vector the default tail drags through the two top-fetch sorts is
      // dim × 8 B per probed candidate row (12 KB at dim 1536); the
      // narrow form sorts ids+score and re-joins qv after the cut —
      // measured 15–27 % faster per search at dims 384–1536 and equal at
      // 64 (RerankWidthHarness, PERF.md round 21). Local default stays
      // fat: the sandbox's per-broadcast job overhead dominates when one
      // query runs many searches (the q_c132 grid measured 14.1 vs
      // 9.7 s at scale10 under it).
      "spark.graft.rerank.narrowWindows" -> "true")

  /** Cluster-profile session: applies [[clusterConfs]] and leaves the
    * master/deploy settings to spark-submit.
    */
  def cluster(shufflePartitions: Int = 2048): SparkSession = {
    // getOrCreate IGNORES builder confs when any session already exists
    // (SPARK-31532 demoted that to a log warning) — the whole profile
    // would silently not apply. Fail loud instead of shipping a no-op.
    if (SparkSession.getActiveSession.isDefined ||
        SparkSession.getDefaultSession.isDefined)
      throw new IllegalStateException(
        "GraftSession.cluster() must create the FIRST session of the JVM: " +
          "an existing SparkSession makes getOrCreate ignore the profile " +
          "confs. Stop the existing session (or apply clusterConfs() to " +
          "spark-submit --conf) instead.")
    val b = SparkSession.builder().appName("graft")
    clusterConfs(shufflePartitions).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def local(cores: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    baseConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder
      // Partition sizing for the local harness (the builder-brief knob:
      // size maxPartitionBytes so the target SF actually parallelizes):
      // the corpus tables are SINGLE parquet files of 1-50 MB, all under
      // the 128 MB default, so scan-bound map stages ran as ONE task on
      // a 32-core session (single-row-group files are additionally
      // unsplittable — see gen_scale_docs). 16 MB is the measured sweet
      // spot between two failure modes (scale10/30 fixtures, clean
      // windows): smaller splits parallelize the scan kernels (q_c38 at
      // 30×: 19.8 s unsplit → 2.8 s) but DEGRADE map-side combine on
      // high-expansion explode→groupBy pipelines (q_c3 cold at 10×:
      // 67 s @16 MB vs 89 s @128 MB vs 170 s @4 MB — tiny tasks flush
      // tiny partial-agg maps and the gram shuffle balloons). At
      // production scale this is workload-tuned; 16 MB serves the
      // harness's file sizes on both poles.
      .config("spark.sql.files.maxPartitionBytes", (16L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Parquet table loader over the driver test data layout
  * (`TESTDATA.md`: one parquet per table under the SF dir).
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spread(spark, s"$dir/$name.parquet", name, raw(spark, dir, name))

  /** The table WITHOUT the scan-spread rewrite — the opt-out for the
    * measured loser shape: pipelines whose first aggregation collapses
    * heavily under map-side combine (n-gram/term counting: a single-task
    * scan fed ONE partial-agg hash map that deduplicated the whole
    * corpus before the exchange; spread across N tasks, each partial map
    * sees 1/N and the gram shuffle balloons — the documented q_c3 16 MB
    * vs 4 MB failure mode, re-measured per-query this round), and grids
    * that re-derive small frames many times per query where the added
    * exchange is pure latency (q_c132). Sites and numbers:
    * OPTIMIZATION_r18.md.
    */
  def raw(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "documents") canonDocuments(df) else df
  }

  /** Scale-adaptive scan parallelization (optimization round 18, guide
    * §2.5 "input skew: one huge unsplittable file → repartition right
    * after the read" + §6 input-split sizing).
    *
    * The harness tables are SINGLE parquet files with ONE row group, so
    * a parquet scan of them is one task no matter what
    * `maxPartitionBytes` says (a row group is the unsplittable read
    * unit; byte-range splits beyond it produce empty tasks). Every
    * per-row kernel fused into the scan stage — the rolling-hash folds,
    * gram explodes, DECIMAL pipelines, media decodes — therefore ran on
    * ONE core while the other 31 idled, and parallelism only began at
    * the first exchange. Measured on the isolated fold kernel at sf0.1:
    * 0.97 s single-task → 0.49 s spread (PROF, OPTIMIZATION_r18.md).
    *
    * The fix is one deterministic hash repartition on the table's
    * primary key, applied ONLY when the scan cannot fill the session's
    * cores on its own — the decision derives from file metadata (bytes,
    * row-group count) against `spark.sql.files.maxPartitionBytes` and
    * `defaultParallelism`, so it is scale-adaptive rather than a local
    * constant: a production multi-file / multi-row-group corpus
    * estimates `splits ≥ cores` and loads untouched, while any
    * under-split layout (tiny SF fixtures, the single-file scale
    * fixtures) spreads to exactly the session's core count. Hash (not
    * round-robin) partitioning keeps the assignment deterministic under
    * task retry (guide §2.5 / SPARK-38388) and costs no
    * sort-before-repartition; keying by the primary key additionally
    * lets doc_id/user_id-clustered consumers reuse the partitioning
    * (guide §2.4). Tables under 24 KB (the broadcast-side dims) are
    * left alone — for them the extra exchange is pure latency.
    * [[raw]] is the per-query opt-out.
    *
    * Values are partitioning-independent across this surface (the
    * round-2 decimal discipline; every collect_list is sorted, every
    * limit rides a total order), which Verify/compare_oracle re-proved
    * after this change — see OPTIMIZATION_r18.md.
    */
  private val spreadKeys: Map[String, String] = Map(
    "documents" -> "doc_id",
    "lineitem" -> "l_orderkey",
    "orders" -> "o_orderkey",
    // ts, not event_id: every event query consumes ts already, so keying
    // the spread on it keeps column pruning intact (an unused key column
    // would otherwise survive in ReadSchema — PlanShapeSpec q_b1), and a
    // hot user's rows still spread across timestamps
    "events" -> "ts",
    "embeddings" -> "vec_id",
    "customer" -> "c_custkey")

  /** Per data file (bytes, row groups) under a parquet path — file OR
    * directory layout (spec fixtures and scale fixtures write
    * directories; the driver testdata is single files). FS/footer
    * metadata only, cached for the session (the [[Sizing]] discipline; a
    * mid-session regeneration at most serves a stale perf decision,
    * never a stale row).
    */
  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[(Long, Int)]]()

  private def layoutOf(spark: SparkSession, path: String): Vector[(Long, Int)] =
    layoutCache.computeIfAbsent(path, { p =>
      import scala.jdk.CollectionConverters._
      val conf = spark.sparkContext.hadoopConfiguration
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(hp).isDirectory) {
          val it = fs.listFiles(hp, true)
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.hadoop.fs.LocatedFileStatus]
          while (it.hasNext) {
            val f = it.next()
            if (f.isFile && f.getPath.getName.endsWith(".parquet")) buf += f
          }
          buf.toVector
        } else Vector(fs.getFileStatus(hp))
      files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        val groups = try r.getFooter.getBlocks.asScala.size finally r.close()
        (f.getLen, groups)
      }
    })

  private def spread(spark: SparkSession, path: String, name: String,
      df: DataFrame): DataFrame =
    spreadKeys.get(name) match {
      case Some(key) =>
        val target = spark.sparkContext.defaultParallelism
        val layout = layoutOf(spark, path)
        // typed accessor, not conf string parsing: the default renders
        // with a byte suffix ("134217728b") that toLong rejects
        val maxPB = spark.sessionState.conf.filesMaxPartitionBytes
        val bytes = layout.map(_._1).sum
        // per file, a scan task covers at most one row group and at most
        // maxPartitionBytes — the smaller count is that file's real scan
        // parallelism ceiling; the table's is the sum over files
        val splits = layout.map { case (b, groups) =>
          math.min(math.max(1L, (b + maxPB - 1) / maxPB), groups.toLong)
        }.sum
        if (bytes >= 24L * 1024 && splits < target && target > 1)
          df.repartition(target, col(key))
        else df
      case _ => df
    }

  /** Layout adaptation for `documents` (round 12 — the same regeneration
    * exposure `EventTime` closes for `events.ts`): a generation written
    * without parquet's UTF8 annotation loads text columns as BINARY, and
    * every string operator downstream would fail analysis. The decode is
    * the identity on the current layout (TableLayoutSpec pins both
    * encodings byte-identical). Integer WIDTH is deliberately left as
    * loaded: raw columns must flow through at the file's width so Spark
    * and the DuckDB oracle shift together; arithmetic that needs 64-bit
    * (the LCG sampling hash) widens in-expression on BOTH engines
    * instead.
    */
  private def canonDocuments(df: DataFrame): DataFrame = {
    val fixed = df.schema.fields.map {
      case f if f.dataType == BinaryType =>
        col(f.name).cast(StringType).as(f.name)
      case f => col(f.name)
    }
    if (df.schema.fields.exists(_.dataType == BinaryType)) df.select(fixed.toSeq: _*)
    else df
  }
}

/** Driver-side size estimation for DECLARED join-strategy intent.
  *
  * A derived frame (distinct n-grams of an incoming batch, say) has
  * useless Catalyst statistics — explode + distinct destroys sizeInBytes —
  * so queries that want "broadcast the small side" semantics hint it
  * explicitly. But an unconditional hint is a promise that breaks at
  * scale: past executor memory the broadcast OOMs rather than degrading.
  * These helpers flip the declared hint on a metadata-only estimate
  * (input file bytes × a documented expansion factor); AQE still re-plans
  * at runtime from real stats, the declared plan just stops promising a
  * broadcast it can't keep. Ceiling: `spark.graft.broadcastBytes`
  * (default 64 MB — comfortably inside a 4 GB executor's storage share,
  * the usual "large dim table" ceiling at which a shuffle join's extra
  * exchange beats per-executor rebroadcast cost).
  */
object Sizing {
  /** Total on-disk bytes under `path` — driver-side FS metadata listing
    * only (O(files) RPCs, no data read), the listing [[SessionMemo]]
    * snapshots its inputs with.
    */
  def onDiskBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var total = 0L
      while (it.hasNext) total += it.next().getLen
      total
    }
  }

  /** Declared-broadcast ceiling in bytes (`spark.graft.broadcastBytes`,
    * default 64 MB).
    */
  def broadcastBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.broadcastBytes").map(_.toLong)
      .getOrElse(64L << 20)

  /** Hint `df` for broadcast iff the caller's size estimate fits the
    * ceiling; otherwise return it unhinted (shuffle join declared, AQE
    * free to do better at runtime).
    */
  def broadcastIfUnder(spark: SparkSession, df: DataFrame,
      estimatedBytes: Long): DataFrame =
    if (estimatedBytes <= broadcastBytes(spark)) broadcast(df) else df

  /** Total row count under `path` from parquet FILE FOOTERS — driver-side
    * metadata only (no data read, no Spark job), the [[onDiskBytes]]
    * discipline. For size models that need an average row size without
    * paying a count() action.
    */
  def parquetRows(spark: SparkSession, path: String): Long = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return 0L
    val files =
      if (fs.getFileStatus(p).isDirectory) {
        // RECURSIVE listing: a partitioned/bucketed dataset nests its
        // part files under key directories, and a top-level-only list
        // would undercount rows and skew the q_c54 broadcast estimate.
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile && f.getPath.getName.endsWith(".parquet")) buf += f.getPath
        }
        buf.toArray
      } else Array(p)
    files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try r.getFooter.getBlocks.asScala.map(_.getRowCount.toLong).sum
      finally r.close()
    }.sum
  }
}

/** Local-filesystem cleanup for session-scoped derived artifacts (JSONL
  * exports, postings indexes): best-effort recursive delete, used when a
  * content-snapshot change abandons the previous build.
  */
object LocalArtifacts {
  def deleteRecursively(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    try rm(new java.io.File(path))
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Deferred delete for an ABANDONED snapshot directory: a query planned
    * against the old path may still be executing, and deleting now would
    * fail it mid-run with FileNotFound instead of letting it complete on
    * the old (internally consistent) snapshot. The directory is reclaimed
    * at JVM exit; the leak window is bounded by corpus regenerations per
    * session (rare — the caches exist because rebuilds are rare).
    */
  def deleteOnExit(path: String): Unit =
    deferred.synchronized { deferred += path; () }

  private lazy val deferred: scala.collection.mutable.ArrayBuffer[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    sys.addShutdownHook { buf.synchronized(buf.foreach(deleteRecursively)) }
    buf
  }
}

/** 64-bit hex content id for per-model registered-function names
  * (`bpe_count_<id>`, `unigram_seg_<id>`, `wordpiece_count_<id>`, ...):
  * two independent-seed 32-bit murmur passes over the model content.
  * The previous 31-bit id had a SILENT failure mode — registerFunction
  * overwrites on name collision, so two different vocabularies hashing
  * alike in one session would rebind later-resolved plans to the wrong
  * model. 64 bits puts same-session collision odds past concern.
  */
object ContentId {
  val SeedA = 0x9747b28c
  val SeedB = 0x1b873593
  def hex64(a: Int, b: Int): String =
    java.lang.Long.toHexString((a.toLong << 32) | (b.toLong & 0xFFFFFFFFL))
}

/** Schema-adaptive event-time canonicalization.
  *
  * The physical parquet layout of `events.ts` has already changed once
  * between test-data generations (TIMESTAMP(NANOS) — which Spark reads as
  * BIGINT nanos under `spark.sql.legacy.parquet.nanosAsLong` — then
  * timestamp[us], which Spark reads as TIMESTAMP_NTZ). The reference's
  * schema discipline is to verify dynamically rather than trust a remembered
  * layout (aind-exaspim-data-transformation `io_utils.py:452-466`); the
  * analog here is to inspect the loaded column's Spark type and canonicalize
  * to **int64 epoch microseconds** — the exact value DuckDB's `epoch_us(ts)`
  * yields on every layout (DuckDB truncates nanos to µs on scan), so all
  * window buckets, gap tests and as-of comparisons stay identical integer
  * arithmetic on both engines.
  *
  * Supported layouts (the session is pinned to UTC, so NTZ→instant casts are
  * the identity epoch map):
  *   - BIGINT            → nanos (the nanosAsLong read of TIMESTAMP(NANOS))
  *   - TIMESTAMP_NTZ     → µs wall time read as UTC
  *   - TIMESTAMP         → µs instant
  */
object EventTime {
  /** µs canonicalization expression for a column named `ts` of type `dt`.
    * Integer `DIV` (not `/`) for the nanos layout: epoch nanos exceed 2^53,
    * so a float division would lose the low digits.
    */
  def microsExpr(dt: DataType): Column = dt match {
    case LongType         => expr("ts DIV 1000")
    case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
    case TimestampType    => unix_micros(col("ts"))
    case other =>
      throw new IllegalArgumentException(
        s"events.ts has unsupported type $other — expected BIGINT nanos, TIMESTAMP or TIMESTAMP_NTZ")
  }

  /** `df` with a canonical `t_us` BIGINT epoch-µs column derived from `ts`. */
  def withMicros(df: DataFrame): DataFrame =
    df.withColumn("t_us", microsExpr(df.schema("ts").dataType))

  /** The events table with the canonical `t_us` column appended. */
  def events(spark: SparkSession, dir: String): DataFrame =
    withMicros(Tables(spark, dir, "events"))
}

/** Numeric canonicalization for DuckDB-oracle hash equality (SURVEY §2.4).
  *
  * Policy (round 2): all INTERNAL arithmetic that is order-sensitive in
  * float (sums, averages, ratios) runs in exact DECIMAL(18,6)/(38,6), but
  * every FINAL emitted numeric is cast to DOUBLE. Rationale: the driver
  * hashes raw value renderings, and a Spark `DECIMAL(38,6)` renders
  * `10.000000` while DuckDB's result surface renders float64 `10.0` —
  * numerically equal, canonically different (round-1 verdict: 21/39 hash
  * fails from this alone). Casting the SAME exact decimal to float64 on
  * both engines yields identical bits (unscaled values here stay well
  * under 2^53, so decimal→double is exact-then-correctly-rounded on both).
  * Columns read straight from parquet are emitted raw — bit-identical by
  * construction.
  */
object Decimals {
  val D18: DecimalType = DecimalType(18, 6)
  val D38: DecimalType = DecimalType(38, 6)

  /** Canonical intermediate decimal. */
  def dec(c: Column): Column = c.cast(D18)

  /** Final emission of an exact-decimal column as float64. */
  def emit(c: Column): Column = c.cast(DoubleType)

  /** Quantize a double through DECIMAL(18,6) (kills engine ulp noise),
    * then emit as float64. Oracle twin: CAST(CAST(x AS DECIMAL(18,6)) AS DOUBLE).
    */
  def emitQ(c: Column): Column = dec(c).cast(DoubleType)

  /** Driver/kernel-side analog of the DECIMAL(18,6) quantization, as
    * unscaled 10⁻⁶ units: uses Spark's OWN Decimal cast machinery so the
    * "identical rounding" guarantee has ONE definition shared by the
    * native expressions (CharBigramStats) and the trainers
    * (UnigramTrainer).
    */
  def micros6(d: Double): Long = {
    val dec = org.apache.spark.sql.types.Decimal(d)
    dec.changePrecision(18, 6)
    dec.toUnscaledLong
  }

  /** CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DECIMAL(38,6)) :: DOUBLE */
  def sumMoney(c: Column): Column = sum(dec(c)).cast(D38).cast(DoubleType)

  /** Exact decimal average: sum/count, both exact, emitted as float64. */
  def avgMoney(c: Column): Column =
    (sum(dec(c)).cast(D38) / count(lit(1))).cast(D38).cast(DoubleType)
}

/** Registry of RDDs persisted while BUILDING a query plan (e.g. the
  * rarity-rank vocab caches in DedupQueries), so harnesses can unpersist
  * them once the query's result is materialized. Without this, a 47-query
  * bench session accumulates MEMORY_AND_DISK vocab RDDs in executor
  * storage for its whole lifetime. Each plan-build call persists fresh
  * RDDs, so draining after materialization never starves a later re-run.
  */
object CachedRdds {
  private val live =
    scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
  private val liveDfs =
    scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Dataset[_]]

  def register[T](rdd: org.apache.spark.rdd.RDD[T]): org.apache.spark.rdd.RDD[T] =
    synchronized { live += rdd; rdd }

  /** Register an already-persisted Dataset/DataFrame for later unpersist. */
  def registerDf[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] =
    synchronized { liveDfs += ds; ds }

  /** Unpersist every registered RDD/Dataset and clear the registry. */
  def drain(): Unit = synchronized {
    live.foreach { r =>
      try r.unpersist(blocking = false)
      catch { case _: Throwable => () }
    }
    live.clear()
    liveDfs.foreach { d =>
      try d.unpersist(blocking = false)
      catch { case _: Throwable => () }
    }
    liveDfs.clear()
  }
}

/** A named query with its DuckDB oracle. `oracle=None` ⇒ the driver records
  * a weaker rows-only check (used for ops whose internals are not
  * SQL-expressible, e.g. ANN with learned centroids).
  */
final case class QueryDef(
    name: String,
    oracle: Option[String]
)(val plan: (SparkSession, String) => DataFrame)
