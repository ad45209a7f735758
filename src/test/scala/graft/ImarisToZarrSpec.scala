package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Geometry.Shape3
import graft.plans.{Downsample, ImarisToZarr, ZarrRegion}
import graft.sinks.ZarrV3

/** End-to-end slice (SURVEY §7.2): synthetic .ims fixture → Spark job →
  * Zarr v3 sharded store → re-read our shards → voxel-exact equality +
  * metadata assertions.
  */
class ImarisToZarrSpec extends AnyFunSuite with BeforeAndAfterAll {
  import Fixtures.v

  private var spark: SparkSession = _
  private lazy val conf = spark.sparkContext.hadoopConfiguration

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("minimum slice: ims_64 → 1-level Zarr v3, voxel-exact (SURVEY §7.2)") {
    val out = Files.createTempDirectory("zarr64").toString
    val stats = ImarisToZarr.convert(
      spark, s"${Fixtures.dir}/ims_64.ims", out,
      ImarisToZarr.Settings(
        shard = Shape3(32, 32, 32), chunk = Shape3(16, 16, 16),
        translatePyramid = false, computeLevels = 1))
    assert(stats.nonEmpty)
    assert(stats.map(_.voxels).sum == 64L * 64 * 64)
    // one shard file per task, 2x2x2 grid
    assert(stats.length == 8)
    val data = ZarrRegion.read(conf, s"$out/ims_64.ome.zarr/0",
      Shape3(64, 64, 64), Shape3(32, 32, 32), Shape3(16, 16, 16),
      0, 64, 0, 64, 0, 64)
    for (z <- 0 until 64; y <- 0 until 64; x <- 0 until 64)
      assert(data((z * 64 + y) * 64 + x) == v(z, y, x))
    val meta = new String(ZarrV3.read(conf, s"$out/ims_64.ome.zarr/0/zarr.json"), "UTF-8")
    assert(meta.contains(""""shape":[1,1,64,64,64]"""))
    val root = new String(ZarrV3.read(conf, s"$out/ims_64.ome.zarr/zarr.json"), "UTF-8")
    assert(root.contains(""""version":"0.5""""))
  }

  test("padded fixture writes only the TRUE shape (X7 regression)") {
    val out = Files.createTempDirectory("zarrpad").toString
    ImarisToZarr.convert(
      spark, s"${Fixtures.dir}/ims_padded.ims", out,
      ImarisToZarr.Settings(
        shard = Shape3(64, 64, 64), chunk = Shape3(32, 32, 32),
        translatePyramid = false, computeLevels = 1))
    val meta = new String(ZarrV3.read(conf, s"$out/ims_padded.ome.zarr/0/zarr.json"), "UTF-8")
    assert(meta.contains(""""shape":[1,1,100,100,100]"""), "zarr shape must be unpadded")
    val data = ZarrRegion.read(conf, s"$out/ims_padded.ome.zarr/0",
      Shape3(100, 100, 100), Shape3(64, 64, 64), Shape3(32, 32, 32),
      90, 100, 90, 100, 90, 100)
    for (z <- 90 until 100; y <- 90 until 100; x <- 90 until 100)
      assert(data(((z - 90) * 10 + (y - 90)) * 10 + (x - 90)) == v(z, y, x))
  }

  test("translate-pyramid copies precomputed levels voxel-exactly") {
    val out = Files.createTempDirectory("zarrpyr").toString
    val stats = ImarisToZarr.convert(
      spark, s"${Fixtures.dir}/ims_pyramid.ims", out,
      ImarisToZarr.Settings(
        shard = Shape3(32, 32, 32), chunk = Shape3(16, 16, 16),
        translatePyramid = true))
    assert(stats.map(_.level).distinct.sorted == Seq(0, 1, 2))
    // level 2 true shape (16,32,32); the store's spec is clamped to it
    val (c2, s2) = graft.core.Geometry.clampSpec(
      Shape3(16, 32, 32), Shape3(16, 16, 16), Shape3(32, 32, 32))
    val d2 = ZarrRegion.read(conf, s"$out/ims_pyramid.ome.zarr/2",
      Shape3(16, 32, 32), s2, c2,
      0, 16, 0, 32, 0, 32)
    for (z <- 0 until 16; y <- 0 until 32; x <- 0 until 32)
      assert(d2((z * 32 + y) * 32 + x) == v(z, y, x, 2))
  }

  test("computed pyramid: mean-downsample level 1 from level 0, block-local") {
    val out = Files.createTempDirectory("zarrds").toString
    ImarisToZarr.convert(
      spark, s"${Fixtures.dir}/ims_64.ims", out,
      ImarisToZarr.Settings(
        shard = Shape3(32, 32, 32), chunk = Shape3(16, 16, 16),
        translatePyramid = false, computeLevels = 2, downsampleMode = "mean"))
    val d1 = ZarrRegion.read(conf, s"$out/ims_64.ome.zarr/1",
      Shape3(32, 32, 32), Shape3(32, 32, 32), Shape3(16, 16, 16),
      0, 32, 0, 32, 0, 32)
    for (z <- 0 until 32; y <- 0 until 32; x <- 0 until 32) {
      var s = 0L
      for (dz <- 0 until 2; dy <- 0 until 2; dx <- 0 until 2)
        s += v(2 * z + dz, 2 * y + dy, 2 * x + dx) & 0xffff
      assert((d1((z * 32 + y) * 32 + x) & 0xffff) == (s / 8).toInt)
    }
  }

  test("computed pyramid: median and stride modes end-to-end") {
    for (mode <- Seq("median", "stride")) {
      val out = Files.createTempDirectory(s"zarr_$mode").toString
      ImarisToZarr.convert(
        spark, s"${Fixtures.dir}/ims_64.ims", out,
        ImarisToZarr.Settings(
          shard = Shape3(32, 32, 32), chunk = Shape3(16, 16, 16),
          translatePyramid = false, computeLevels = 2, downsampleMode = mode))
      val d1 = ZarrRegion.read(conf, s"$out/ims_64.ome.zarr/1",
        Shape3(32, 32, 32), Shape3(32, 32, 32), Shape3(16, 16, 16),
        0, 32, 0, 32, 0, 32)
      // spot-check a handful of windows against the kernel definition
      for ((z, y, x) <- Seq((0, 0, 0), (5, 7, 9), (31, 31, 31), (16, 0, 30))) {
        val window = (for (dz <- 0 until 2; dy <- 0 until 2; dx <- 0 until 2)
          yield (v(2 * z + dz, 2 * y + dy, 2 * x + dx) & 0xffff)).toArray
        val want = mode match {
          case "median" => window.sorted.apply((window.length - 1) / 2)
          case "stride" => window(0)
        }
        assert((d1((z * 32 + y) * 32 + x) & 0xffff) == want, s"$mode at ($z,$y,$x)")
      }
    }
  }

  test("downsample kernel modes on a known window") {
    // src 2x2x2 -> dst 1x1x1
    val src = Array[Short](5, 1, 7, 7, 3, 7, 2, 9)
    def run(mode: String) =
      Downsample.reduce(src, Shape3(2, 2, 2), Shape3(1, 1, 1), Shape3(2, 2, 2), mode)(0)
    assert(run("stride") == 5)
    assert(run("mean") == ((5 + 1 + 7 + 7 + 3 + 7 + 2 + 9) / 8).toShort)
    assert(run("min") == 1)
    assert(run("max") == 9)
    assert(run("median") == 5)  // sorted: 1,2,3,5,7,7,7,9 → lower middle = 5
    assert(run("mode") == 7)    // most frequent
  }

  test("partition_mode=file: one write task per (file, level), voxel-exact (D6)") {
    val out = Files.createTempDirectory("zarrfm").toString
    val stats = ImarisToZarr.convert(
      spark, s"${Fixtures.dir}/ims_64.ims", out,
      ImarisToZarr.Settings(
        shard = Shape3(32, 32, 32), chunk = Shape3(16, 16, 16),
        translatePyramid = false, computeLevels = 1,
        partitionMode = "file"))
    // shard-mode would plan a 2x2x2 grid; file mode collapses to 1 task
    assert(stats.length == 1)
    assert(stats.map(_.voxels).sum == 64L * 64 * 64)
    val d = ZarrRegion.read(conf, s"$out/ims_64.ome.zarr/0",
      Shape3(64, 64, 64), Shape3(64, 64, 64), Shape3(16, 16, 16), 0, 64, 0, 64, 0, 64)
    for (z <- 0 until 64; y <- 0 until 64; x <- 0 until 64)
      assert(d((z * 64 + y) * 64 + x) == v(z, y, x))
  }

  test("gzip codec variant converts and reads back voxel-exactly") {
    val out = Files.createTempDirectory("zarrgz").toString
    val stats = ImarisToZarr.convert(
      spark, s"${Fixtures.dir}/ims_pyramid.ims", out,
      ImarisToZarr.Settings(
        shard = Shape3(32, 32, 32), chunk = Shape3(16, 16, 16),
        translatePyramid = true, codecName = "gzip"))
    assert(stats.map(_.level).distinct.sorted == Seq(0, 1, 2))
    val metaJson = new String(ZarrV3.read(
      conf, s"$out/ims_pyramid.ome.zarr/0/zarr.json"), "UTF-8")
    assert(metaJson.contains("\"gzip\"") && !metaJson.contains("\"zstd\""))
    val d = ZarrRegion.read(conf, s"$out/ims_pyramid.ome.zarr/0",
      Shape3(64, 128, 128), Shape3(32, 32, 32), Shape3(16, 16, 16),
      0, 64, 0, 128, 0, 128)
    for (z <- 0 until 64; y <- 0 until 128; x <- 0 until 128)
      assert(d((z * 128 + y) * 128 + x) == v(z, y, x, 0))
  }

  test("blosc codec variant converts and reads back voxel-exactly") {
    val out = Files.createTempDirectory("zarrblosc").toString
    val stats = ImarisToZarr.convert(
      spark, s"${Fixtures.dir}/ims_pyramid.ims", out,
      ImarisToZarr.Settings(
        shard = Shape3(32, 32, 32), chunk = Shape3(16, 16, 16),
        translatePyramid = true, codecName = "blosc"))
    assert(stats.map(_.level).distinct.sorted == Seq(0, 1, 2))
    val metaJson = new String(ZarrV3.read(
      conf, s"$out/ims_pyramid.ome.zarr/0/zarr.json"), "UTF-8")
    assert(metaJson.contains(""""name":"blosc"""")
      && metaJson.contains(""""shuffle":"shuffle""""))
    val d = ZarrRegion.read(conf, s"$out/ims_pyramid.ome.zarr/0",
      Shape3(64, 128, 128), Shape3(32, 32, 32), Shape3(16, 16, 16),
      0, 64, 0, 128, 0, 128)
    for (z <- 0 until 64; y <- 0 until 128; x <- 0 until 128)
      assert(d((z * 128 + y) * 128 + x) == v(z, y, x, 0))
  }

  test("convertAll pools files into one job per level-wave; progress totals match") {
    import java.util.concurrent.atomic.AtomicInteger
    val out = Files.createTempDirectory("zarrpool").toString
    val files = Seq("ims_64.ims", "ims_sbv1.ims", "ims_pyramid.ims")
      .map(f => s"${Fixtures.dir}/$f")
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // no earlier test's job events may reach the counter
    org.apache.spark.GraftSparkTestAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val progress = ImarisToZarr.Progress.init(spark)
      // translate mode: ALL (file, level) tasks — 3 files, 1/1/3 levels —
      // must run as ONE pooled Spark job
      val stats = ImarisToZarr.convertAll(
        spark, files, out,
        _ => ImarisToZarr.Settings(
          shard = Shape3(32, 32, 32), chunk = Shape3(16, 16, 16),
          translatePyramid = true),
        Some(progress))
      org.apache.spark.GraftSparkTestAccess.drainListenerBus(spark.sparkContext)
      assert(jobs.get() == 1, "expected exactly 1 pooled job")

      // per-file stats identical to three single-file runs
      val byFile = stats.groupBy(_.file.split('/').last)
      assert(byFile("ims_64.ims").length == 8)
      assert(byFile("ims_sbv1.ims").length == 8)
      assert(byFile("ims_pyramid.ims").map(_.level).distinct.sorted == Seq(0, 1, 2))
      assert(byFile("ims_64.ims").map(_.voxels).sum == 64L * 64 * 64)
      // voxel-exact spot check on one pooled output
      val d = ZarrRegion.read(conf, s"$out/ims_sbv1.ome.zarr/0",
        Shape3(64, 64, 64), Shape3(32, 32, 32), Shape3(16, 16, 16),
        0, 64, 0, 64, 0, 64)
      for (z <- 0 until 64; y <- 0 until 64; x <- 0 until 64)
        assert(d((z * 64 + y) * 64 + x) == v(z, y, x))
      // A5 live accounting: accumulator totals == stats totals
      assert(progress.shards.value == stats.length.toLong)
      assert(progress.bytes.value == stats.map(_.bytesWritten).sum)

      // computed-pyramid waves: 2 files × 2 levels ⇒ exactly 2 more jobs
      // (the read wave, whose tasks also encode level 1's chunk blobs, and
      // one wave assembling level 1's shards), pooled across both files
      val out2 = Files.createTempDirectory("zarrpool2").toString
      val before = jobs.get()
      val stats2 = ImarisToZarr.convertAll(
        spark, Seq(s"${Fixtures.dir}/ims_64.ims", s"${Fixtures.dir}/ims_sbv1.ims"), out2,
        _ => ImarisToZarr.Settings(
          shard = Shape3(32, 32, 32), chunk = Shape3(16, 16, 16),
          translatePyramid = false, computeLevels = 2),
        None)
      org.apache.spark.GraftSparkTestAccess.drainListenerBus(spark.sparkContext)
      assert(jobs.get() == before + 2, "expected 2 pooled level-waves")
      assert(stats2.groupBy(_.file).forall(_._2.map(_.level).distinct.sorted == Seq(0, 1)))

      // an aligned 3-level computed pyramid (every level-1 and level-2
      // chunk inside one level-0 task's reduced region): the level-0 wave
      // encodes both levels' chunks, and ONE wave assembles both levels'
      // shards — 2 jobs; the store read runs a wave per level — 3 jobs
      for ((fuse, want) <- Seq(true -> 2, false -> 3)) {
        val before3 = jobs.get()
        val stats3 = ImarisToZarr.convert(spark, s"${Fixtures.dir}/ims_64.ims",
          Files.createTempDirectory("zarraligned").toString,
          ImarisToZarr.Settings(
            shard = Shape3(32, 32, 32), chunk = Shape3(8, 8, 8),
            translatePyramid = false, computeLevels = 3, fuseDownsample = fuse))
        org.apache.spark.GraftSparkTestAccess.drainListenerBus(spark.sparkContext)
        assert(jobs.get() == before3 + want, s"fuse=$fuse: expected $want jobs")
        assert(stats3.map(_.level).distinct.sorted == Seq(0, 1, 2))
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("fused L1 reduction is voxel-exact vs the unfused compute wave") {
    // 100³ true shape, shard 32 ⇒ edge tasks clamp at 100; level 1 takes
    // its chunks from the level-0 tasks (16³ tiles of 16³ chunks), level
    // 2 does not align (8³ tiles of 16³ chunks) and is assembled from up
    // to 8 partials with odd extents. At 5 levels, level 3 is computed
    // from level 2's partials and level 4 (13³ shards, odd) reads level
    // 3's store — every source in one fixture. median exercises a
    // non-linear kernel (order statistics can't hide an off-by-one the
    // way mean might).
    val cases = for {
      levels <- Seq(3, 5)
      (mode, fmt, codec) <- Seq(("mean", 3, "zstd"), ("median", 3, "blosc"), ("mean", 3, "gzip"),
        ("mean", 2, "zstd"))
    } yield (levels, mode, fmt, codec)
    for ((levels, mode, fmt, codec) <- cases) {
      val what = s"levels=$levels mode=$mode fmt=$fmt codec=$codec"
      def conv(fuse: Boolean): (String, Seq[ImarisToZarr.ShardStats]) = {
        val out = Files.createTempDirectory(s"zarrfuse_${levels}_${mode}_${fmt}_${codec}_$fuse").toString
        val stats = ImarisToZarr.convert(
          spark, s"${Fixtures.dir}/ims_padded.ims", out,
          ImarisToZarr.Settings(
            shard = Shape3(32, 32, 32), chunk = Shape3(16, 16, 16),
            translatePyramid = false, computeLevels = levels, downsampleMode = mode,
            zarrFormat = fmt, codecName = codec, fuseDownsample = fuse))
        (s"$out/ims_padded.ome.zarr", stats)
      }
      val (fused, statsF) = conv(fuse = true)
      val (plain, statsP) = conv(fuse = false)
      // identical stats (same keys, bytes, voxels) and identical files
      assert(statsF.map(s => (s.level, s.key, s.bytesWritten, s.voxels)).sorted ==
        statsP.map(s => (s.level, s.key, s.bytesWritten, s.voxels)).sorted, what)
      def files(store: String): Map[String, Array[Byte]] = {
        val root = java.nio.file.Paths.get(store)
        val walk = Files.walk(root)
        try walk.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => root.relativize(f).toString -> Files.readAllBytes(f)).toMap
        finally walk.close()
      }
      val (ff, fp) = (files(fused), files(plain))
      assert(ff.keySet == fp.keySet, s"$what: file sets differ: ${ff.keySet diff fp.keySet} " +
        s"vs ${fp.keySet diff ff.keySet}")
      assert(ff.keySet.exists(_.startsWith(s"${levels - 1}/")), s"$what: no top level")
      ff.foreach { case (k, bytes) =>
        assert(java.util.Arrays.equals(bytes, fp(k)), s"$what: $k differs")
      }
      // every scratch dir (blobs and partials) is consumed and deleted
      for (l <- 1 until levels; d <- Seq(".chunks", ".partial"))
        assert(!new java.io.File(s"$fused/$l/$d").exists(), s"$what: $l/$d left behind")
    }
  }

  test("invalid v2Separator fails before any store bytes are written") {
    val out = Files.createTempDirectory("zarrbadsep").toString
    val e = intercept[IllegalArgumentException] {
      ImarisToZarr.convert(
        spark, s"${Fixtures.dir}/ims_64.ims", out,
        ImarisToZarr.Settings(
          shard = Shape3(32, 32, 32), chunk = Shape3(16, 16, 16),
          translatePyramid = false, computeLevels = 1,
          zarrFormat = 2, v2Separator = "|"))
    }
    assert(e.getMessage.contains("dimension_separator"))
    // driver must not have pre-created the store or written any metadata
    assert(new java.io.File(out).listFiles().isEmpty,
      "no partial store may exist after early validation failure")
  }

  test("API settings are validated before anything is planned or written") {
    val ok = ImarisToZarr.Settings(shard = Shape3(32, 32, 32), chunk = Shape3(16, 16, 16),
      translatePyramid = false, computeLevels = 2)
    Seq(ok.copy(codecName = "lz4") -> "codec must be zstd|blosc|gzip",
      ok.copy(downsampleMode = "avg") -> "downsample_mode must be one of",
      ok.copy(partitionMode = "files") -> "partition_mode must be file|shard",
      ok.copy(zstdLevel = 40) -> "zstd level must be in [1,22]").foreach { case (bad, msg) =>
      val out = Files.createTempDirectory("zarrbadsetting").toString
      val e = intercept[IllegalArgumentException](
        ImarisToZarr.convert(spark, s"${Fixtures.dir}/ims_64.ims", out, bad))
      assert(e.getMessage.contains(msg), e.getMessage)
      assert(new java.io.File(out).listFiles().isEmpty, s"$msg: the store was started")
    }
  }

  test("discover: deterministic order and single-tile mode (S1-S3)") {
    val files = ImarisToZarr.discover(Fixtures.dir, singleTileOnly = false, conf)
    assert(files.map(_.split('/').last) ==
      Seq("ims_64.ims", "ims_64_lz4.ims", "ims_aniso.ims", "ims_dense.ims",
        "ims_latest.ims", "ims_padded.ims", "ims_pyramid.ims", "ims_sbv1.ims",
        "ims_sbv2.ims", "ims_tiny_edge.ims"))
    val one = ImarisToZarr.discover(Fixtures.dir, singleTileOnly = true, conf)
    assert(one.map(_.split('/').last) == Seq("ims_64.ims"))
  }
}
