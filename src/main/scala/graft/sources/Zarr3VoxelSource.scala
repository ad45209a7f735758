package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
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
  *  - z/y/x range predicates are pushed down (`SupportsPushDownFilters`)
  *    into one bounding box. The scan plans one InputPartition per grid
  *    shard the box overlaps, so a `WHERE z BETWEEN a AND b` touches only
  *    the shard files it must, like partition pruning on a partitioned
  *    table. Every filter is also returned as residual, so Spark
  *    re-applies it and pruning is never a correctness dependency.
  *  - A shard with no file reads as all `fill_value` (Zarr v3's meaning
  *    of a missing chunk), as does an elided inner chunk.
  *  - Reads are columnar: each task fills reused on-heap column vectors
  *    in batches of [[Zarr3VoxelSource.BatchRows]] rows, and Spark plans
  *    `ColumnarToRow` under whole-stage codegen above the scan. Only the
  *    columns `pruneColumns` kept are filled (`SELECT sum(v)` never
  *    writes coordinates); `z` and `y` are filled once per x-run.
  *  - Chunk streaming: a task reads its shard file, checks the index,
  *    then decodes only the inner chunks the box overlaps, one at a time
  *    into one reused chunk buffer. Rows come out in chunk order.
  *
  * At 100 TB: shards are ~256 MB units, so the scan parallelizes as one
  * task per shard with no shuffle; peak task state is the compressed
  * shard plus one decoded chunk.
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

  /** Inclusive voxel bounding box (whole-array by default). */
  final case class Box(
      z0: Long = 0L, z1: Long = Long.MaxValue,
      y0: Long = 0L, y1: Long = Long.MaxValue,
      x0: Long = 0L, x1: Long = Long.MaxValue) {
    def tighten(col: String, lo: Long, hi: Long): Box = col match {
      case "z" => copy(z0 = math.max(z0, lo), z1 = math.min(z1, hi))
      case "y" => copy(y0 = math.max(y0, lo), y1 = math.min(y1, hi))
      case "x" => copy(x0 = math.max(x0, lo), x1 = math.min(x1, hi))
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
  }

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
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  import Zarr3VoxelSource.Box

  private var box = Box()
  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = Zarr3VoxelSource.schema

  private object Coord {
    def unapply(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case _ => None
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val coords = Set("z", "y", "x")
    // Long.MaxValue > Long.MinValue: an empty range
    val none = (Long.MaxValue, Long.MinValue)
    // each coordinate predicate as an inclusive range; a strict bound at
    // the end of the Long range matches nothing instead of wrapping
    def range(f: Filter): Option[(String, (Long, Long))] = f match {
      case EqualTo(c, Coord(v)) => Some(c -> (v, v))
      case GreaterThan(c, Coord(v)) => Some(c -> (if (v == Long.MaxValue) none else (v + 1, Long.MaxValue)))
      case GreaterThanOrEqual(c, Coord(v)) => Some(c -> (v, Long.MaxValue))
      case LessThan(c, Coord(v)) => Some(c -> (if (v == Long.MinValue) none else (Long.MinValue, v - 1)))
      case LessThanOrEqual(c, Coord(v)) => Some(c -> (Long.MinValue, v))
      case _ => None
    }
    accepted = for (f <- filters; (c, (lo, hi)) <- range(f) if coords(c)) yield {
      box = box.tighten(c, lo, hi)
      f
    }
    // everything stays residual: Spark re-applies all predicates above
    // the scan, so pruning is purely an I/O optimization and never a
    // correctness dependency
    filters
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new Zarr3VoxelScan(path, box, required)
}

final class Zarr3VoxelScan(path: String, box: Zarr3VoxelSource.Box, required: StructType)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"zarr3voxels($path) box=$box cols=${required.fieldNames.mkString(",")}"

  /** One partition per grid shard the box overlaps, whether or not its
    * file exists: a missing shard reads as fill.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    val (shape, shard, chunk) = Zarr3VoxelSource.levelGeometry(conf, path)
    val serConf = new SerializableConfiguration(conf)
    val (lo, hi) = box.clip(shape)
    val parts = Array.newBuilder[InputPartition]
    Voxels.forEachTile(lo, hi, shard, shape) { t =>
      parts += Zarr3VoxelPartition(s"$path/${ZarrV3.shardKey(t.gz, t.gy, t.gx)}", t.origin,
        t.shape, shard, chunk, t.lo, t.hi, required.fieldNames, serConf)
    }
    parts.result()
  }

  override def createReaderFactory(): PartitionReaderFactory = Zarr3VoxelBatchFactory
}

/** One shard: its file, global `origin` and clipped `dataShape`, and the
  * box [`lo`, `hi`) (global) to read from it.
  */
final case class Zarr3VoxelPartition(
    shardPath: String, origin: Shape3, dataShape: Shape3, shard: Shape3, chunk: Shape3,
    lo: Shape3, hi: Shape3, cols: Array[String],
    serConf: SerializableConfiguration) extends InputPartition

object Zarr3VoxelBatchFactory extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("zarr3voxels reads columnar batches only")
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new Zarr3VoxelBatchReader(partition.asInstanceOf[Zarr3VoxelPartition])
}

/** Streams the partition box of one shard as columnar batches, decoding
  * one overlapping inner chunk at a time. Every overlapping chunk is
  * decoded even when `v` is not read, so a corrupt chunk fails every
  * query alike.
  */
final class Zarr3VoxelBatchReader(p: Zarr3VoxelPartition) extends PartitionReader[ColumnarBatch] {
  import Zarr3VoxelSource.BatchRows

  // None: the shard has no file and every chunk reads as Fill
  private val shard: Option[ZarrV3.Shard] =
    try Some(ZarrV3.openShard(ZarrV3.read(p.serConf.value, p.shardPath), p.shard, p.chunk, p.shardPath))
    catch { case _: java.io.FileNotFoundException => None }
  private val tiles: Array[Voxels.Tile] = {
    val b = Array.newBuilder[Voxels.Tile]
    Voxels.forEachTile(p.lo, p.hi, p.chunk, p.hi)(b += _)
    b.result()
  }
  private val chunk = Array.fill(p.chunk.voxels.toInt)(ZarrV3.Fill)
  private val codes: Array[Int] = p.cols.map {
    case "z" => 0; case "y" => 1; case "x" => 2; case "v" => 3
    case other => sys.error(s"unknown voxel column: $other")
  }
  private val vectors = p.cols.map(c =>
    new OnHeapColumnVector(BatchRows, if (c == "v") IntegerType else LongType))
  private val batch = new ColumnarBatch(vectors.toArray[ColumnVector])
  // the current tile (its chunk is in `chunk`) and the next voxel's
  // offset inside its box
  private var ti = -1
  private var dz = 0L; private var dy = 0L; private var dx = 0L

  override def next(): Boolean = {
    var n = 0
    while (n < BatchRows && nextTile()) {
      val t = tiles(ti)
      val run = math.min(BatchRows - n, t.extent.x - dx).toInt
      fill(t, n, run)
      n += run
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
      if (ti < tiles.length) {
        val t = tiles(ti)
        shard.foreach(_.decodeChunkInto(t.gz - p.origin.z / p.chunk.z,
          t.gy - p.origin.y / p.chunk.y, t.gx - p.origin.x / p.chunk.x, chunk))
      }
    }
    ti < tiles.length
  }

  /** Rows [n, n + run) from the x-run at the cursor. */
  private def fill(t: Voxels.Tile, n: Int, run: Int): Unit = {
    val z = t.lo.z + dz; val y = t.lo.y + dy; val x = t.lo.x + dx
    val base = (((z - t.origin.z) * p.chunk.y + (y - t.origin.y)) * p.chunk.x + (x - t.origin.x)).toInt
    var c = 0
    while (c < codes.length) {
      val vec = vectors(c)
      codes(c) match {
        case 0 => vec.putLongs(n, run, z)
        case 1 => vec.putLongs(n, run, y)
        case 2 => var i = 0; while (i < run) { vec.putLong(n + i, x + i); i += 1 }
        case _ => var i = 0; while (i < run) { vec.putInt(n + i, chunk(base + i) & 0xffff); i += 1 }
      }
      c += 1
    }
  }

  override def close(): Unit = batch.close()
}
