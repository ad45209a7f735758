package graft.sources

import java.util.{Map => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Geometry, Voxels}
import graft.core.Geometry.{Shape3, TrueShape}

/** DataSource V2 `imaris` source (SURVEY §2.3 polish item): exposes an
  * Imaris store as a DataFrame of shard-region rows
  * {{{
  *   spark.read.format("imaris")
  *     .option("path", dir).option("shard", "64,64,64").load()
  * }}}
  * Schema: (file, level, sz, sy, sx, z0, z1, y0, y1, x0, x1, data BINARY)
  * where `data` is the region's voxels as little-endian uint16 bytes.
  *
  * Scale behaviors the V2 contract buys us:
  *  - **partition pruning**: `level = N` / file-equality predicates are
  *    consumed at PLANNING time — pruned (file, level) combinations never
  *    become input partitions (X7's planning-time pruning analog);
  *  - **column pruning**: if `data` is not in the required columns the
  *    reader never opens the HDF5 payload — metadata-only queries
  *    (`count`, grid audits) cost zero voxel I/O;
  *  - one shard region per InputPartition = the W4 unit of work.
  */
class ImarisDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "imaris"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ImarisDataSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new ImarisTable(properties.asScala.toMap)
}

object ImarisDataSource {
  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("level", IntegerType, nullable = false),
    StructField("sz", LongType, nullable = false),
    StructField("sy", LongType, nullable = false),
    StructField("sx", LongType, nullable = false),
    StructField("z0", LongType, nullable = false),
    StructField("z1", LongType, nullable = false),
    StructField("y0", LongType, nullable = false),
    StructField("y1", LongType, nullable = false),
    StructField("x0", LongType, nullable = false),
    StructField("x1", LongType, nullable = false),
    StructField("data", BinaryType, nullable = true)))
}

final class ImarisTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"imaris(${props.getOrElse("path", "?")})"
  override def schema(): StructType = ImarisDataSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ImarisScanBuilder(options.asScala.toMap ++ props)
}

final class ImarisScanBuilder(props: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = ImarisDataSource.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // consume level/file constraints at planning time; everything else
    // stays post-scan (returned for Spark to evaluate). A claimed filter
    // MUST be applied — so only claim value types the planner actually
    // evaluates (numbers for level, strings for file); anything else is
    // returned as residual rather than silently dropped.
    def num(v: Any): Boolean = v.isInstanceOf[Number]
    val (usable, rest) = filters.partition {
      case EqualTo("level", v) => num(v)
      case EqualTo("file", v) => v.isInstanceOf[String]
      case In("level", vs) => vs.forall(num)
      case In("file", vs) => vs.forall(_.isInstanceOf[String])
      case GreaterThan("level", v) => num(v)
      case GreaterThanOrEqual("level", v) => num(v)
      case LessThan("level", v) => num(v)
      case LessThanOrEqual("level", v) => num(v)
      case _ => false
    }
    pushed = usable
    rest
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new ImarisScan(props, pushed, required)
}

final case class ImarisInputPartition(
    task: Geometry.ShardTask) extends InputPartition

final class ImarisScan(
    props: Map[String, String],
    pushed: Array[Filter],
    required: StructType) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"ImarisScan(pushed=[${pushed.mkString(",")}], cols=[${required.fieldNames.mkString(",")}])"

  // pushFilters guarantees every claimed level value is a Number and
  // every file value a String, so these evaluators are total over `pushed`
  private def levelOk(l: Int): Boolean = pushed.forall {
    case EqualTo("level", v: Number)            => l == v.intValue
    case In("level", vs)                        => vs.exists(v => v.asInstanceOf[Number].intValue == l)
    case GreaterThan("level", v: Number)        => l > v.intValue
    case GreaterThanOrEqual("level", v: Number) => l >= v.intValue
    case LessThan("level", v: Number)           => l < v.intValue
    case LessThanOrEqual("level", v: Number)    => l <= v.intValue
    case _                                      => true
  }

  private def fileOk(f: String): Boolean = pushed.forall {
    case EqualTo("file", v: String) => f == v
    case In("file", vs)             => vs.exists(v => v == f)
    case _                          => true
  }

  // the ACTIVE session's Hadoop conf: spark.hadoop.* (s3a credentials,
  // endpoints) must reach both planning reads and executor-side readers
  private def sessionConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  override def planInputPartitions(): Array[InputPartition] = {
    val path = props.getOrElse("path", sys.error("imaris source requires option 'path'"))
    val shard = props.get("shard").map { s =>
      val p = s.split(",").map(_.trim.toLong); Shape3(p(0), p(1), p(2))
    }.getOrElse(graft.plans.ImarisToZarr.Settings().shard)
    val conf = sessionConf
    val files =
      if (path.endsWith(".ims") || path.endsWith(".h5")) Seq(path)
      else graft.plans.ImarisToZarr.discover(path, singleTileOnly = false, conf)
    val out = mutable.ArrayBuffer.empty[InputPartition]
    for (f <- files if fileOk(f)) {
      val meta = Imaris.readMeta(f, conf)
      for (l <- 0 until meta.numLevels if levelOk(l)) {
        val ts = meta.trueShapes(l)
        val (_, shardL) = Geometry.clampSpec(ts, meta.chunk, shard)
        Geometry.shardTasks(f, l, TrueShape(ts), shardL)
          .foreach(t => out += ImarisInputPartition(t))
      }
    }
    out.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ImarisReaderFactory(required.fieldNames,
      new org.apache.spark.util.SerializableConfiguration(sessionConf))
}

final class ImarisReaderFactory(
    cols: Array[String],
    conf: org.apache.spark.util.SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val task = p.asInstanceOf[ImarisInputPartition].task
    new PartitionReader[InternalRow] {
      private var done = false
      private var reader: Hdf5Reader = _

      override def next(): Boolean = !done

      override def get(): InternalRow = {
        done = true
        val values: Array[Any] = cols.map {
          case "file"  => UTF8String.fromString(task.file)
          case "level" => task.level
          case "sz" => task.sz
          case "sy" => task.sy
          case "sx" => task.sx
          case "z0" => task.z0
          case "z1" => task.z1
          case "y0" => task.y0
          case "y1" => task.y1
          case "x0" => task.x0
          case "x1" => task.x1
          case "data" =>
            // the payload is only read when the column survives pruning
            if (reader == null) reader = new Hdf5Reader(task.file, conf.value)
            val r = reader // stable path for the inner Dataset type
            val ds = r.openDataset(Imaris.dataPath(task.level))
            val voxels = r.readRegion(ds, task.z0, task.z1, task.y0, task.y1, task.x0, task.x1)
            val bytes = new Array[Byte](voxels.length * 2)
            Voxels.toLE(voxels, voxels.length, bytes)
            bytes
          case other => sys.error(s"unknown column $other")
        }
        InternalRow.fromSeq(values.toIndexedSeq)
      }

      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}
