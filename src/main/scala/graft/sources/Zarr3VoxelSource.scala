package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.util.SerializableConfiguration

import graft.core.Geometry.Shape3
import graft.core.Voxels
import graft.sinks.ZarrV3

/** DataSource V2 `zarr3voxels` READER: one Zarr v3 sharded level as a
  * voxel table `(z, y, x LONG, v INT)` — the analytics-side complement
  * of the `zarr3` sink, so converted stores are queryable with plain
  * SQL:
  * {{{
  *   spark.read.format("zarr3voxels").load(levelDir)
  *     .where("z BETWEEN 100 AND 200 AND v > 1000")
  *     .groupBy("z").agg(avg("v"))
  * }}}
  *
  *  - Geometry is self-describing (parsed from the level's `zarr.json`;
  *    no options).
  *  - Exact filters (`SupportsPushDownFilters`): comparisons (`=`, `<`,
  *    `<=`, `>`, `>=`) of any column with an integer literal fold into
  *    one [[Zarr3VoxelSource.Box]], z/y/x ranges plus an inclusive `v`
  *    range inside [0, 65535]; `IS NOT NULL` is always true. The readers
  *    emit exactly the voxels inside the box, so these filters are not
  *    returned as residual and the box is a correctness dependency
  *    (Zarr3VoxelScanSpec's properties pin it). Any other filter stays
  *    residual for Spark to apply. The scan plans one InputPartition per
  *    grid shard the z/y/x box overlaps, so a `WHERE z BETWEEN a AND b`
  *    touches only the shard files it must.
  *  - Aggregate pushdown (`SupportsPushDownAggregates`, always partial):
  *    with no residual filter, `COUNT(*)`, `COUNT(col)`, and `SUM`, `MIN`
  *    and `MAX` of `v` (so also `AVG(v)`, which Spark sends as `SUM` and
  *    `COUNT`), grouped by nothing or by one of z/y/x, are folded in the
  *    reader: each task emits one row per group that has a matching voxel
  *    and Spark merges them. Anything else (DISTINCT, other expressions
  *    or groupings) is not pushed and reads voxel rows.
  *  - A shard with no file reads as all `fill_value` (Zarr v3's meaning
  *    of a missing chunk), as does an elided inner chunk.
  *  - Voxel rows are columnar: each task fills reused on-heap column
  *    vectors in batches of [[Zarr3VoxelSource.BatchRows]] rows, and Spark
  *    plans `ColumnarToRow` under whole-stage codegen above the scan. Only
  *    the columns `pruneColumns` kept are filled (`SELECT sum(v)` never
  *    writes coordinates); `z` and `y` are filled once per x-run, and
  *    voxels outside the `v` range are compacted out.
  *  - Chunk streaming: a task reads its shard file, checks the index,
  *    then decodes only the inner chunks the box overlaps, one at a time
  *    into one reused chunk buffer. Rows come out in chunk order.
  *  - Scan metrics (`BatchScanExec`'s SQL metrics): chunks decoded, shard
  *    bytes read and voxels folded by a pushed aggregate.
  *
  * At 100 TB: shards are ~256 MB units, so the scan parallelizes as one
  * task per shard with no shuffle; peak task state is the compressed
  * shard plus one decoded chunk (and, grouped, one accumulator set per
  * coordinate of the shard).
  */
class Zarr3VoxelSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zarr3voxels"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Zarr3VoxelSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new Zarr3VoxelTable(properties.asScala.toMap)
}

object Zarr3VoxelSource {
  val schema: StructType = StructType(Seq(
    StructField("z", LongType, nullable = false),
    StructField("y", LongType, nullable = false),
    StructField("x", LongType, nullable = false),
    StructField("v", IntegerType, nullable = false)))

  /** Rows per columnar batch. */
  val BatchRows = 4096

  /** The largest voxel value (uint16). */
  val VMax = 65535L

  /** Inclusive bounds on every column: a voxel bounding box (whole array
    * by default) and a `v` range (every uint16 value by default).
    */
  final case class Box(
      z0: Long = 0L, z1: Long = Long.MaxValue,
      y0: Long = 0L, y1: Long = Long.MaxValue,
      x0: Long = 0L, x1: Long = Long.MaxValue,
      v0: Long = 0L, v1: Long = VMax) {
    def tighten(col: String, lo: Long, hi: Long): Box = col match {
      case "z" => copy(z0 = math.max(z0, lo), z1 = math.min(z1, hi))
      case "y" => copy(y0 = math.max(y0, lo), y1 = math.min(y1, hi))
      case "x" => copy(x0 = math.max(x0, lo), x1 = math.min(x1, hi))
      case "v" => copy(v0 = math.max(v0, lo), v1 = math.min(v1, hi))
      case _ => this
    }

    /** The box clipped to an array of `shape`, as a half-open region
      * [lo, hi); empty on an axis where lo >= hi.
      */
    def clip(shape: Shape3): (Shape3, Shape3) = {
      def lo(a: Long) = math.max(a, 0L)
      def hi(b: Long, n: Long) = math.max(0L, math.min(b, n - 1) + 1)
      (Shape3(lo(z0), lo(y0), lo(x0)), Shape3(hi(z1, shape.z), hi(y1, shape.y), hi(x1, shape.x)))
    }

    /** The `v` range as Ints, (1, 0) when it is empty. */
    def vRange: (Int, Int) = if (v0 > v1) (1, 0) else (v0.toInt, v1.toInt)

    override def toString: String =
      s"z[$z0,$z1] y[$y0,$y1] x[$x0,$x1] v[${vRange._1},${vRange._2}]"
  }

  /** 1 when `u` lies in [`lo`, `hi`], else 0 (all three in [0, 65535]). */
  @inline def inRange(u: Int, lo: Int, hi: Int): Int = (((u - lo) | (hi - u)) >>> 31) ^ 1

  /** A pushed aggregate: an optional group column (`z`, `y` or `x`) and
    * its functions, each `count` (of matching voxels), or `sum`, `min` or
    * `max` of `v`.
    */
  final case class Pushed(group: Option[String], fns: Seq[String]) {
    /** The group column, then each function in the type Spark merges. */
    def schema: StructType = StructType(group.toSeq.map(StructField(_, LongType, nullable = false)) ++
      fns.zipWithIndex.map { case (f, i) =>
        StructField(s"${f}_$i", if (f == "min" || f == "max") IntegerType else LongType, nullable = false)
      })

    override def toString: String =
      fns.map(f => s"${f.toUpperCase}(${if (f == "count") "*" else "v"})").mkString("[", ", ", "]") +
        group.fold("")(g => s" GROUP BY $g")
  }

  /** The scan's task metrics, by name and description. */
  private val metrics = Seq(
    "chunksDecoded" -> "chunks decoded",
    "shardBytesRead" -> "shard bytes read",
    "voxelsFolded" -> "voxels folded")

  // one class per metric: Spark instantiates them by class name
  sealed abstract class Metric(i: Int) extends CustomSumMetric {
    override def name(): String = metrics(i)._1
    override def description(): String = metrics(i)._2
  }
  final class ChunksDecoded extends Metric(0)
  final class ShardBytesRead extends Metric(1)
  final class VoxelsFolded extends Metric(2)

  def customMetrics: Array[CustomMetric] =
    Array(new ChunksDecoded, new ShardBytesRead, new VoxelsFolded)

  def taskMetrics(values: Long*): Array[CustomTaskMetric] =
    metrics.zip(values).map { case ((n, _), v) =>
      new CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }: CustomTaskMetric
    }.toArray

  /** Parse (shape, shard, chunk) from a level's zarr.json (the 5-D
    * T,C,Z,Y,X metadata the writer emits; T=C=1 dropped).
    */
  def levelGeometry(conf: org.apache.hadoop.conf.Configuration,
                    levelDir: String): (Shape3, Shape3, Shape3) = {
    val root = new ObjectMapper().readTree(
      new String(ZarrV3.read(conf, s"$levelDir/zarr.json"), "UTF-8"))
    def shp(n: com.fasterxml.jackson.databind.JsonNode): Shape3 = {
      require(n != null && n.isArray && n.size == 5, s"$levelDir: expected 5-D dims")
      Shape3(n.get(2).asLong, n.get(3).asLong, n.get(4).asLong)
    }
    val shape = shp(root.get("shape"))
    val shard = shp(root.get("chunk_grid").get("configuration").get("chunk_shape"))
    val sharding = root.get("codecs").get(0)
    require(sharding.get("name").asText == "sharding_indexed",
      s"$levelDir: not a sharded level")
    val chunk = shp(sharding.get("configuration").get("chunk_shape"))
    (shape, shard, chunk)
  }
}

final class Zarr3VoxelTable(props: Map[String, String]) extends Table with SupportsRead {
  private val path = props.getOrElse("path", sys.error("zarr3voxels requires a path"))
  override def name(): String = s"zarr3voxels($path)"
  override def schema(): StructType = Zarr3VoxelSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new Zarr3VoxelScanBuilder(path)
}

final class Zarr3VoxelScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  import Zarr3VoxelSource.{Box, Pushed}

  private var box = Box()
  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = Zarr3VoxelSource.schema
  private var pushed: Option[Pushed] = None

  private object Literal {
    def unapply(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case _ => None
    }
  }

  private val columns = Zarr3VoxelSource.schema.fieldNames.toSet

  /** Folds every comparison with an integer literal into the box and
    * keeps the rest as residual; the readers apply the box exactly.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Long.MaxValue > Long.MinValue: an empty range
    val none = (Long.MaxValue, Long.MinValue)
    // each comparison as an inclusive range; a strict bound at the end of
    // the Long range matches nothing instead of wrapping
    def range(f: Filter): Option[(String, (Long, Long))] = f match {
      case EqualTo(c, Literal(v)) => Some(c -> (v, v))
      case GreaterThan(c, Literal(v)) => Some(c -> (if (v == Long.MaxValue) none else (v + 1, Long.MaxValue)))
      case GreaterThanOrEqual(c, Literal(v)) => Some(c -> (v, Long.MaxValue))
      case LessThan(c, Literal(v)) => Some(c -> (if (v == Long.MinValue) none else (Long.MinValue, v - 1)))
      case LessThanOrEqual(c, Literal(v)) => Some(c -> (Long.MinValue, v))
      case _ => None
    }
    accepted = filters.filter {
      case IsNotNull(c) => columns(c)
      case f => range(f).exists { case (c, (lo, hi)) => columns(c) && { box = box.tighten(c, lo, hi); true } }
    }
    filters.filterNot(accepted.contains)
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accepts a grouping by nothing or by one coordinate, and `COUNT`,
    * and `SUM`/`MIN`/`MAX` of `v`, none DISTINCT.
    */
  override def pushAggregation(a: Aggregation): Boolean = {
    def col(e: V2Expression): Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 && columns(r.fieldNames()(0)) => Some(r.fieldNames()(0))
      case _ => None
    }
    def isV(e: V2Expression): Boolean = col(e).contains("v")
    val fns = a.aggregateExpressions.toSeq.map {
      case _: CountStar => Some("count")
      case c: Count if !c.isDistinct && col(c.column).isDefined => Some("count")
      case s: Sum if !s.isDistinct && isV(s.column) => Some("sum")
      case m: Min if isV(m.column) => Some("min")
      case m: Max if isV(m.column) => Some("max")
      case _ => None
    }
    val group = a.groupByExpressions.toSeq.map(col)
    val ok = fns.forall(_.isDefined) && (group match {
      case Seq() => true
      case Seq(Some(c)) => c != "v"
      case _ => false
    })
    if (ok) pushed = Some(Pushed(group.headOption.flatten, fns.flatten))
    ok
  }

  override def build(): Scan = new Zarr3VoxelScan(path, box, required, pushed)
}

final class Zarr3VoxelScan(path: String, box: Zarr3VoxelSource.Box, required: StructType,
                           pushed: Option[Zarr3VoxelSource.Pushed])
    extends Scan with Batch {

  override def readSchema(): StructType = pushed.fold(required)(_.schema)
  override def toBatch: Batch = this
  override def description(): String =
    s"zarr3voxels($path) box=$box " +
      pushed.fold(s"cols=${required.fieldNames.mkString(",")}")(a => s"aggregate=$a")
  override def supportedCustomMetrics(): Array[CustomMetric] = Zarr3VoxelSource.customMetrics

  /** One partition per grid shard the box overlaps, whether or not its
    * file exists: a missing shard reads as fill.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    val (shape, shard, chunk) = Zarr3VoxelSource.levelGeometry(conf, path)
    val serConf = new SerializableConfiguration(conf)
    val (lo, hi) = box.clip(shape)
    val (vLo, vHi) = box.vRange
    val parts = Array.newBuilder[InputPartition]
    Voxels.forEachTile(lo, hi, shard, shape) { t =>
      parts += Zarr3VoxelPartition(s"$path/${ZarrV3.shardKey(t.gz, t.gy, t.gx)}", t.origin,
        t.shape, shard, chunk, t.lo, t.hi, required.fieldNames, serConf, vLo, vHi, pushed)
    }
    parts.result()
  }

  override def createReaderFactory(): PartitionReaderFactory = Zarr3VoxelReaderFactory
}

/** One shard: its file, global `origin` and clipped `dataShape`, the box
  * [`lo`, `hi`) (global) and the `v` range [`vLo`, `vHi`] to read from
  * it, and the aggregate to fold them into, if one was pushed.
  */
final case class Zarr3VoxelPartition(
    shardPath: String, origin: Shape3, dataShape: Shape3, shard: Shape3, chunk: Shape3,
    lo: Shape3, hi: Shape3, cols: Array[String],
    serConf: SerializableConfiguration, vLo: Int, vHi: Int,
    agg: Option[Zarr3VoxelSource.Pushed]) extends InputPartition

/** Columnar batches for voxel rows; one row per group for a pushed
  * aggregate.
  */
object Zarr3VoxelReaderFactory extends PartitionReaderFactory {
  private def part(p: InputPartition) = p.asInstanceOf[Zarr3VoxelPartition]
  override def supportColumnarReads(partition: InputPartition): Boolean = part(partition).agg.isEmpty
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new Zarr3VoxelAggReader(part(partition))
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new Zarr3VoxelBatchReader(part(partition))
}

/** What both readers share: the partition's shard, the tiles where the
  * box meets its inner chunks (in C order), one reused chunk buffer, and
  * the task metrics. Every overlapping chunk is decoded, whatever the
  * query reads, so a corrupt chunk fails every query alike.
  */
sealed abstract class Zarr3VoxelReader[T](p: Zarr3VoxelPartition) extends PartitionReader[T] {
  private var bytesRead = 0L
  private var chunksDecoded = 0L
  protected var voxelsFolded = 0L

  // None: the shard has no file and every chunk reads as Fill
  private val shard: Option[ZarrV3.Shard] =
    try {
      val bytes = ZarrV3.read(p.serConf.value, p.shardPath)
      bytesRead = bytes.length
      Some(ZarrV3.openShard(bytes, p.shard, p.chunk, p.shardPath))
    } catch { case _: java.io.FileNotFoundException => None }
  protected val tiles: Array[Voxels.Tile] = {
    val b = Array.newBuilder[Voxels.Tile]
    Voxels.forEachTile(p.lo, p.hi, p.chunk, p.hi)(b += _)
    b.result()
  }
  protected val chunk: Array[Short] = Array.fill(p.chunk.voxels.toInt)(ZarrV3.Fill)

  /** Decodes tile `t`'s inner chunk into `chunk`. */
  protected def load(t: Voxels.Tile): Unit =
    if (shard.exists(_.decodeChunkInto(t.gz - p.origin.z / p.chunk.z,
        t.gy - p.origin.y / p.chunk.y, t.gx - p.origin.x / p.chunk.x, chunk)))
      chunksDecoded += 1

  /** Offset in `chunk` of global voxel (`z`, `y`, `x`) of tile `t`. */
  protected def offset(t: Voxels.Tile, z: Long, y: Long, x: Long): Int =
    (((z - t.origin.z) * p.chunk.y + (y - t.origin.y)) * p.chunk.x + (x - t.origin.x)).toInt

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Zarr3VoxelSource.taskMetrics(chunksDecoded, bytesRead, voxelsFolded)

  override def close(): Unit = ()
}

/** Streams the partition box of one shard as columnar batches, decoding
  * one overlapping inner chunk at a time; voxels outside the `v` range
  * are left out.
  */
final class Zarr3VoxelBatchReader(p: Zarr3VoxelPartition) extends Zarr3VoxelReader[ColumnarBatch](p) {
  import Zarr3VoxelSource.{BatchRows, inRange}

  private val codes: Array[Int] = p.cols.map {
    case "z" => 0; case "y" => 1; case "x" => 2; case "v" => 3
    case other => sys.error(s"unknown voxel column: $other")
  }
  private val vectors = p.cols.map(c =>
    new OnHeapColumnVector(BatchRows, if (c == "v") IntegerType else LongType))
  private val batch = new ColumnarBatch(vectors.toArray[ColumnVector])
  // x offsets, in the current x-run, of the voxels written to the batch
  private val sel = new Array[Int](BatchRows)
  // the current tile (its chunk is in `chunk`) and the next voxel's
  // offset inside its box
  private var ti = -1
  private var dz = 0L; private var dy = 0L; private var dx = 0L

  override def next(): Boolean = {
    var n = 0
    while (n < BatchRows && nextTile()) {
      val t = tiles(ti)
      val run = math.min(BatchRows - n, t.extent.x - dx).toInt
      n += fill(t, n, run)
      dx += run
      if (dx == t.extent.x) { dx = 0; dy += 1 }
      if (dy == t.extent.y) { dy = 0; dz += 1 }
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch = batch

  /** Moves past finished tiles, decoding the next one; false at the end. */
  private def nextTile(): Boolean = {
    while (ti < tiles.length && (ti < 0 || dz == tiles(ti).extent.z)) {
      ti += 1
      dz = 0
      if (ti < tiles.length) load(tiles(ti))
    }
    ti < tiles.length
  }

  /** Writes, from row `n`, the voxels of the x-run of `run` at the cursor
    * that lie in the `v` range; returns how many.
    */
  private def fill(t: Voxels.Tile, n: Int, run: Int): Int = {
    val z = t.lo.z + dz; val y = t.lo.y + dy; val x = t.lo.x + dx
    val base = offset(t, z, y, x)
    var k = 0
    var i = 0
    while (i < run) {
      sel(k) = i
      k += inRange(chunk(base + i) & 0xffff, p.vLo, p.vHi)
      i += 1
    }
    var c = 0
    while (c < codes.length) {
      val vec = vectors(c)
      codes(c) match {
        case 0 => vec.putLongs(n, k, z)
        case 1 => vec.putLongs(n, k, y)
        case 2 => i = 0; while (i < k) { vec.putLong(n + i, x + sel(i)); i += 1 }
        case _ => i = 0; while (i < k) { vec.putInt(n + i, chunk(base + sel(i)) & 0xffff); i += 1 }
      }
      c += 1
    }
    k
  }

  override def close(): Unit = batch.close()
}

/** Folds the partition box of one shard into a pushed aggregate, one
  * decoded inner chunk at a time, and emits one row per group with a
  * voxel in the `v` range: the group coordinate, if any, then each
  * function's value.
  */
final class Zarr3VoxelAggReader(p: Zarr3VoxelPartition) extends Zarr3VoxelReader[InternalRow](p) {
  import Zarr3VoxelSource.inRange

  private val agg = p.agg.getOrElse(sys.error("an aggregate reader needs a pushed aggregate"))
  // the group axis (0 z, 1 y, 2 x; -1 none), where the partition box
  // starts on it, and the number of groups
  private val axis = agg.group.fold(-1)("zyx".indexOf(_))
  private val start = axis match { case 0 => p.lo.z; case 1 => p.lo.y; case 2 => p.lo.x; case _ => 0L }
  private val groups = axis match {
    case 0 => (p.hi.z - p.lo.z).toInt; case 1 => (p.hi.y - p.lo.y).toInt
    case 2 => (p.hi.x - p.lo.x).toInt; case _ => 1
  }
  private val count = new Array[Long](groups)
  private val sum = new Array[Long](groups)
  private val min = Array.fill(groups)(Int.MaxValue)
  private val max = Array.fill(groups)(Int.MinValue)
  private val row = new GenericInternalRow(agg.schema.length)
  private var folded = false
  private var g = -1

  override def next(): Boolean = {
    if (!folded) { tiles.foreach(fold); folded = true }
    g += 1
    while (g < groups && count(g) == 0) g += 1
    g < groups
  }

  override def get(): InternalRow = {
    var i = 0
    if (axis >= 0) { row.setLong(0, start + g); i = 1 }
    agg.fns.foreach { f =>
      f match {
        case "count" => row.setLong(i, count(g))
        case "sum" => row.setLong(i, sum(g))
        case "min" => row.setInt(i, min(g))
        case _ => row.setInt(i, max(g))
      }
      i += 1
    }
    row
  }

  /** Folds tile `t` x-run by x-run. */
  private def fold(t: Voxels.Tile): Unit = {
    load(t)
    var z = t.lo.z
    while (z < t.hi.z) {
      var y = t.lo.y
      while (y < t.hi.y) {
        val base = offset(t, z, y, t.lo.x)
        val run = t.extent.x.toInt
        axis match {
          case 0 => foldRun(base, run, (z - start).toInt)
          case 1 => foldRun(base, run, (y - start).toInt)
          case 2 => foldByX(base, run, (t.lo.x - start).toInt)
          case _ => foldRun(base, run, 0)
        }
        y += 1
      }
      z += 1
    }
    voxelsFolded += t.extent.voxels
  }

  /** Folds `run` voxels from `chunk(base)` into group `g`, branch-free. A
    * voxel outside the `v` range adds nothing to the count or the sum,
    * and 65535 to the min and 0 to the max: no bound a group with a
    * counted voxel can miss, and a group without one is never emitted.
    */
  private def foldRun(base: Int, run: Int, g: Int): Unit = {
    val c = chunk; val vLo = p.vLo; val vHi = p.vHi
    var n = 0L; var s = 0L; var lo = min(g); var hi = max(g)
    var i = base
    val end = base + run
    while (i < end) {
      val u = c(i) & 0xffff
      val m = inRange(u, vLo, vHi)
      n += m
      s += u & -m
      lo = math.min(lo, u | ((m - 1) & 0xffff))
      hi = math.max(hi, u & -m)
      i += 1
    }
    count(g) += n; sum(g) += s; min(g) = lo; max(g) = hi
  }

  /** Folds `run` voxels from `chunk(base)`, one group per x from `g0`. */
  private def foldByX(base: Int, run: Int, g0: Int): Unit = {
    var i = 0
    while (i < run) {
      val u = chunk(base + i) & 0xffff
      if (inRange(u, p.vLo, p.vHi) == 1) {
        val g = g0 + i
        count(g) += 1; sum(g) += u
        if (u < min(g)) min(g) = u
        if (u > max(g)) max(g) = u
      }
      i += 1
    }
  }
}
