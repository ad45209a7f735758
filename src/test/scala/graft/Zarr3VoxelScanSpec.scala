package graft

import java.nio.file.Files
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources.{Filter, GreaterThan, LessThan}
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Geometry
import graft.core.Geometry.Shape3
import graft.sinks.ZarrV3
import graft.sources.Zarr3VoxelScanBuilder

/** The `zarr3voxels` scan over a synthetic level whose shape is not a
  * multiple of the shard, with one elided all-fill inner chunk and one
  * shard file deleted: random boxes and column subsets, exact `v` filters
  * and pushed aggregates equal a per-voxel reference decoded with
  * `ZarrV3.decodeShard`.
  */
class Zarr3VoxelScanSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private val conf = new Configuration()
  private val shape = Shape3(50, 70, 100)
  private val shard = Shape3(32, 64, 96)
  // 48 does not divide the 4096-row batch, so x-runs split across batches
  private val chunk = Shape3(16, 32, 48)
  private val deleted = (1L, 0L, 1L)
  private val elided = (0L, 0L, 0L) // shard whose inner chunk (1, 1, 0) is elided

  private var spark: SparkSession = _
  private var level: String = _
  private var ref: Array[Short] = _

  /** Writes the level (every shard, then elides one chunk and deletes one
    * shard file) and returns its directory.
    */
  private def writeLevel(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    val rnd = new scala.util.Random(17)
    val data = Array.fill(shape.voxels.toInt)(rnd.nextInt(65536).toShort)
    ZarrV3.writeString(conf, s"$dir/zarr.json", ZarrV3.arrayMetadata(
      Seq(1L, 1L) ++ shape.toSeq, Seq(1L, 1L) ++ shard.toSeq, Seq(1L, 1L) ++ chunk.toSeq).render)
    Geometry.shardTasks("f", 0, Geometry.TrueShape(shape), shard).foreach { t =>
      val region = t.region.shape
      val buf = new Array[Short](region.voxels.toInt)
      graft.core.Voxels.copyBox(data, shape, Shape3(0, 0, 0), buf, region,
        Shape3(t.z0, t.y0, t.x0), Shape3(t.z0, t.y0, t.x0), region)
      ZarrV3.writeShard(conf, shardPath(dir, (t.sz, t.sy, t.sx)), buf, region, shard, chunk)
    }
    val ci = (1 * 2 + 1) * 2 + 0 // chunk (1, 1, 0) of the shard's 2x2x2 chunk grid
    rewriteIndex(shardPath(dir, elided)) { (bb, idxStart) =>
      bb.putLong(idxStart + ci * 16, -1L).putLong(idxStart + ci * 16 + 8, -1L)
    }
    assert(new java.io.File(shardPath(dir, deleted)).delete())
    dir
  }

  private def shardPath(dir: String, s: (Long, Long, Long)): String =
    s"$dir/${ZarrV3.shardKey(s._1, s._2, s._3)}"

  /** Applies `edit` to a shard's index and recomputes its CRC32C. */
  private def rewriteIndex(path: String)(edit: (ByteBuffer, Int) => Unit): Unit = {
    val bytes = ZarrV3.read(conf, path)
    val indexLen = 8 * 16
    val idxStart = bytes.length - indexLen - 4
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    edit(bb, idxStart)
    val crc = new java.util.zip.CRC32C()
    crc.update(bytes, idxStart, indexLen)
    bb.putInt(idxStart + indexLen, crc.getValue.toInt)
    ZarrV3.write(conf, path, bytes)
  }

  /** The whole level decoded shard by shard; a missing shard is fill. */
  private def reference(dir: String): Array[Short] = {
    val out = new Array[Short](shape.voxels.toInt)
    Geometry.shardTasks("f", 0, Geometry.TrueShape(shape), shard).foreach { t =>
      val path = shardPath(dir, (t.sz, t.sy, t.sx))
      if (new java.io.File(path).exists) {
        val region = t.region.shape
        val lo = Shape3(t.z0, t.y0, t.x0)
        graft.core.Voxels.copyBox(ZarrV3.decodeShard(ZarrV3.read(conf, path), region, shard, chunk),
          region, lo, out, shape, Shape3(0, 0, 0), lo, region)
      }
    }
    out
  }

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-zarr3voxels-scan-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    level = writeLevel("zarr3scan")
    ref = reference(level)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def voxels(dir: String = level): DataFrame = spark.read.format("zarr3voxels").load(dir)

  private def at(z: Long, y: Long, x: Long): Int = ref(((z * shape.y + y) * shape.x + x).toInt) & 0xffff

  // rows packed into one Long per row (coordinates < 256, v < 2^17), so a
  // multiset of rows compares as a sorted Array[Long]
  private val width = Map("z" -> 8, "y" -> 8, "x" -> 8, "v" -> 17)
  private def pack(cols: Seq[String], vals: Seq[Long]): Long =
    cols.zip(vals).foldLeft(0L) { case (acc, (c, v)) => (acc << width(c)) | v }

  test("random boxes and column subsets equal the per-voxel reference") {
    def axis(n: Long): Gen[(Long, Long)] = Gen.frequency(
      8 -> (for (lo <- Gen.choose(0L, n - 1); hi <- Gen.choose(lo, n - 1)) yield (lo, hi)),
      1 -> (for (lo <- Gen.choose(-3L, n + 3); hi <- Gen.choose(-3L, n + 3)) yield (lo, hi)))
    val subsets = Seq(Seq("z", "y", "x", "v"), Seq("v", "x", "z", "y"), Seq("y", "v"), Seq("x"), Seq("v"))
    val box = for (z <- axis(shape.z); y <- axis(shape.y); x <- axis(shape.x)) yield (z, y, x)
    val p = Prop.forAll(box) { case ((z0, z1), (y0, y1), (x0, x1)) =>
      val df = voxels().where(F.col("z").between(z0, z1) && F.col("y").between(y0, y1) &&
        F.col("x").between(x0, x1))
      val cells = for {
        z <- math.max(z0, 0L) to math.min(z1, shape.z - 1)
        y <- math.max(y0, 0L) to math.min(y1, shape.y - 1)
        x <- math.max(x0, 0L) to math.min(x1, shape.x - 1)
      } yield (z, y, x)
      val counted = df.count() == cells.size
      counted && subsets.forall { cols =>
        val got = df.select(cols.map(F.col): _*).collect()
          .map(r => pack(cols, cols.indices.map(i => r.get(i).asInstanceOf[Number].longValue))).sorted
        val want = cells.map { case (z, y, x) =>
          val v = Map("z" -> z, "y" -> y, "x" -> x, "v" -> at(z, y, x).toLong)
          pack(cols, cols.map(v))
        }.toArray.sorted
        got.sameElements(want)
      }
    }
    val r = Check.check(Check.Parameters.default.withMinSuccessfulTests(30), p)
    assert(r.passed, r.status.toString)
  }

  test("a missing shard reads as fill and counts every voxel of the array") {
    assert(voxels().count() == shape.voxels)
    val (z0, y0, x0) = (deleted._1 * shard.z, deleted._2 * shard.y, deleted._3 * shard.x)
    val hole = voxels().where(F.col("z") >= z0 && F.col("y").between(y0, y0 + shard.y - 1) &&
      F.col("x") >= x0)
    val expect = (shape.z - z0) * shard.y * (shape.x - x0)
    assert(hole.count() == expect)
    assert(hole.where(F.col("v") =!= 0).count() == 0)
    // the elided chunk reads as fill too
    assert(voxels().where("z BETWEEN 16 AND 31 AND y BETWEEN 32 AND 63 AND x < 48 AND v <> 0")
      .count() == 0)
  }

  test("a flipped shard index byte fails the query naming that shard") {
    val dir = writeLevel("zarr3scanbad")
    val path = shardPath(dir, (0L, 1L, 0L))
    val bytes = ZarrV3.read(conf, path)
    bytes(bytes.length - 20) = (bytes(bytes.length - 20) ^ 0x01).toByte
    ZarrV3.write(conf, path, bytes)
    val e = intercept[Exception](voxels(dir).selectExpr("sum(v)").collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(msgs.exists(m => m != null && m.contains(path) && m.contains("CRC32C")), msgs.mkString("\n"))
  }

  test("strict bounds past the Long range plan zero partitions") {
    def parts(f: Filter): Int = {
      val b = new Zarr3VoxelScanBuilder(level)
      b.pushFilters(Array(f))
      b.build().toBatch.planInputPartitions().length
    }
    assert(parts(GreaterThan("z", Long.MaxValue)) == 0)
    assert(parts(LessThan("y", Long.MinValue)) == 0)
    assert(parts(GreaterThan("x", Long.MaxValue - 1)) == 0)
    assert(parts(LessThan("x", 1L)) == 4)
    assert(voxels().where(F.col("z") > Long.MaxValue).count() == 0)
  }

  test("plan: ColumnarToRow under whole-stage codegen above a columnar BatchScan") {
    // grouping by an expression is not pushed, so the scan stays columnar
    val df = voxels().groupBy(F.expr("z div 2")).agg(F.avg("v"))
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scans = collect(plan) { case b: BatchScanExec => b }
    val fed = collect(plan) { case c: ColumnarToRowExec => c.collect { case b: BatchScanExec => b } }.flatten
    val fused = collect(plan) { case w: WholeStageCodegenExec => w.collect { case c: ColumnarToRowExec => c } }
      .flatten
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar) && fed.size == scans.size, plan.toString)
    assert(fused.nonEmpty, plan.toString)
  }

  test("plan: a pushed aggregate reads folded rows from the BatchScan, no ColumnarToRow") {
    val df = voxels().where(F.col("v") > 100).groupBy("z").agg(F.avg("v"))
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scans = collect(plan) { case b: BatchScanExec => b }
    assert(scans.size == 1 && !scans.head.supportsColumnar, plan.toString)
    val desc = scans.head.scan.description()
    assert(desc.contains("v[101,65535]") && desc.contains("aggregate=[SUM(v), COUNT(*)] GROUP BY z"), desc)
    assert(collect(plan) { case c: ColumnarToRowExec => c }.isEmpty, plan.toString)
    assert(collect(plan) { case f: FilterExec => f }.isEmpty, plan.toString)
  }

  /** Voxels of the clipped box [z0, z1] x [y0, y1] x [x0, x1]. */
  private def cellsOf(z0: Long, z1: Long, y0: Long, y1: Long, x0: Long, x1: Long): Seq[(Long, Long, Long)] =
    for {
      z <- math.max(z0, 0L) to math.min(z1, shape.z - 1)
      y <- math.max(y0, 0L) to math.min(y1, shape.y - 1)
      x <- math.max(x0, 0L) to math.min(x1, shape.x - 1)
    } yield (z, y, x)

  private def span(n: Long): Gen[(Long, Long)] = Gen.frequency(
    8 -> (for (lo <- Gen.choose(0L, n - 1); hi <- Gen.choose(lo, n - 1)) yield (lo, hi)),
    2 -> Gen.const((0L, n - 1)),
    1 -> (for (lo <- Gen.choose(-3L, n + 3); hi <- Gen.choose(-3L, n + 3)) yield (lo, hi)))

  /** A comparison of `v` with an Int literal, as a column and a predicate. */
  private val vPredicate: Gen[(Column, Int => Boolean)] = for {
    op <- Gen.oneOf("=", ">", ">=", "<", "<=")
    c <- Gen.frequency(4 -> Gen.choose(0, 65535), 1 -> Gen.oneOf(-1, 0, 1, 65534, 65535, 65536, 70000),
      2 -> Gen.choose(0, ref.length - 1).map(i => ref(i) & 0xffff))
  } yield {
    val v = F.col("v")
    op match {
      case "=" => (v === c, (u: Int) => u == c)
      case ">" => (v > c, (u: Int) => u > c)
      case ">=" => (v >= c, (u: Int) => u >= c)
      case "<" => (v < c, (u: Int) => u < c)
      case _ => (v <= c, (u: Int) => u <= c)
    }
  }

  test("pushed COUNT/SUM/MIN/MAX/AVG over random boxes, v ranges and groupings equal the reference") {
    val gen = for {
      (z0, z1) <- span(shape.z); (y0, y1) <- span(shape.y); (x0, x1) <- span(shape.x)
      preds <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, vPredicate))
      group <- Gen.oneOf(Option.empty[String], Some("z"), Some("y"), Some("x"))
    } yield (Seq(z0, z1, y0, y1, x0, x1), preds, group)
    val p = Prop.forAll(gen) { case (Seq(z0, z1, y0, y1, x0, x1), preds, group) =>
      val where = preds.map(_._1).foldLeft(F.col("z").between(z0, z1) && F.col("y").between(y0, y1) &&
        F.col("x").between(x0, x1))(_ && _)
      val grouped = voxels().where(where).groupBy(group.map(F.col).toSeq: _*)
      val df = grouped.agg(F.count(F.lit(1)), F.sum("v"), F.min("v"), F.max("v"), F.avg("v"))
      val got = df.collect().map { r =>
        val o = if (group.isEmpty) 0 else 1
        val key = if (group.isEmpty) 0L else r.getLong(0)
        def opt(i: Int): Option[Any] = if (r.isNullAt(o + i)) None else Some(r.get(o + i))
        key -> (r.getLong(o), opt(1), opt(2), opt(3), opt(4))
      }.toMap
      // the reference: (count, sum, min, max) per group of the matching voxels
      val acc = scala.collection.mutable.Map.empty[Long, (Long, Long, Int, Int)]
      for ((z, y, x) <- cellsOf(z0, z1, y0, y1, x0, x1)) {
        val u = at(z, y, x)
        if (preds.forall(_._2(u))) {
          val key = group match { case Some("z") => z; case Some("y") => y; case Some("x") => x; case _ => 0L }
          val (n, s, lo, hi) = acc.getOrElse(key, (0L, 0L, Int.MaxValue, Int.MinValue))
          acc(key) = (n + 1, s + u, math.min(lo, u), math.max(hi, u))
        }
      }
      val want = acc.map { case (k, (n, s, lo, hi)) =>
        k -> (n, Option[Any](s), Option[Any](lo), Option[Any](hi), Option[Any](s.toDouble / n))
      }.toMap ++ (if (group.isEmpty && acc.isEmpty) Map(0L -> (0L, None, None, None, None)) else Map.empty)
      val pushed = collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
        .forall(_.scan.description().contains("aggregate="))
      (pushed && got == want) :| s"pushed=$pushed got=${got.toSeq.sortBy(_._1).take(4)} " +
        s"want=${want.toSeq.sortBy(_._1).take(4)} (${got.size} vs ${want.size} groups)"
    }
    val r = Check.check(Check.Parameters.default.withMinSuccessfulTests(40), p)
    assert(r.passed, r.status.toString)
  }

  test("columnar rows: exact v filters return exactly the matching voxels") {
    val cols = Seq("z", "y", "x", "v")
    for ((lo, hi) <- Seq((30000, 65535), (0, 999), (12345, 12345), (40000, 39999))) {
      val df = voxels().select(cols.map(F.col): _*).where(F.col("v") >= lo && F.col("v") <= hi &&
        F.col("z").between(10, 40))
      val got = df.collect().map(r => pack(cols, cols.indices.map(i => r.get(i).asInstanceOf[Number].longValue)))
        .sorted
      val want = cellsOf(10, 40, 0, shape.y - 1, 0, shape.x - 1).collect {
        case (z, y, x) if at(z, y, x) >= lo && at(z, y, x) <= hi => pack(cols, Seq(z, y, x, at(z, y, x).toLong))
      }.toArray.sorted
      assert(got.sameElements(want), s"v in [$lo, $hi]: ${got.length} rows, want ${want.length}")
      assert(collect(df.queryExecution.executedPlan) { case f: FilterExec => f }.isEmpty)
    }
    // v > t with every column, as a non-pushable query reads it
    val t = 50000
    val n = voxels().select("z", "y", "x", "v").where(F.col("v") > t).collect().length
    assert(n == ref.count(r => (r & 0xffff) > t))
  }

  /** The scan's custom metrics after running `df`, summed over its scans. */
  private def scanMetrics(df: DataFrame): Map[String, Long] = {
    df.collect()
    val scans = collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
    Seq("chunksDecoded", "shardBytesRead", "voxelsFolded").map(m => m -> scans.map(_.metrics(m).value).sum).toMap
  }

  test("scan metrics: chunks decoded, shard bytes read and voxels folded") {
    val shardFile = new java.io.File(shardPath(level, elided))
    // one stored chunk of one shard
    val one = scanMetrics(voxels().where("z < 16 AND y < 32 AND x < 48").agg(F.sum("v")))
    assert(one == Map("chunksDecoded" -> 1L, "shardBytesRead" -> shardFile.length, "voxelsFolded" -> 16L * 32 * 48))
    // a full columnar scan decodes every stored chunk and folds nothing
    val tasks = Geometry.shardTasks("f", 0, Geometry.TrueShape(shape), shard)
    val files = tasks.map(t => new java.io.File(shardPath(level, (t.sz, t.sy, t.sx)))).filter(_.exists)
    val stored = tasks.filter(t => (t.sz, t.sy, t.sx) != deleted).map { t =>
      val r = t.region.shape
      Geometry.ceilDiv(r.z, chunk.z) * Geometry.ceilDiv(r.y, chunk.y) * Geometry.ceilDiv(r.x, chunk.x)
    }.sum - 1 // the elided chunk
    val full = scanMetrics(voxels().where(F.col("v") % 2 === 0).select("v"))
    assert(full == Map("chunksDecoded" -> stored, "shardBytesRead" -> files.map(_.length).sum, "voxelsFolded" -> 0L))
    // a pushed aggregate folds every voxel of its box, fill included
    val box = scanMetrics(voxels().where("z BETWEEN 5 AND 40 AND x >= 90").groupBy("y").agg(F.max("v")))
    assert(box("voxelsFolded") == 36L * shape.y * 10)
    assert(scanMetrics(voxels().groupBy().count())("voxelsFolded") == shape.voxels)
  }
}
