package graft.sinks

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.Geometry.Shape3
import graft.core.Voxels

/** DataSource V2 `zarr3` sink (SURVEY §2.3's "zarr_write" item): writes
  * shard-region rows into one Zarr v3 sharded level.
  * {{{
  *   shardRows.write.format("zarr3")
  *     .option("path", levelDir)
  *     .option("shape", "z,y,x").option("shard", "z,y,x").option("chunk", "z,y,x")
  *     .mode("append").save()
  * }}}
  * Expected input schema (the `imaris` source's row shape):
  * (sz, sy, sx, z0, z1, y0, y1, x0, x1 LONG, data BINARY-LE-uint16).
  *
  * Write protocol (reference W4/X3/W7, `imaris_to_zarr.py:1280-1283`,
  * `:1759-1831`): the DRIVER writes the level `zarr.json` once before any
  * task runs (race class eliminated); each input row is encoded and
  * written as exactly one shard file by exactly one task, so task commit
  * needs NO coordination — there is nothing to move or rename on commit,
  * and aborted tasks simply leave re-writable files that a retry
  * overwrites idempotently.
  *
  * Together with the `imaris` source, the whole conversion is one
  * declarative pipeline:
  * `spark.read.format("imaris").load().write.format("zarr3").save()`.
  *
  * Sizing note: a row carries one whole shard as a BINARY column, so the
  * DSv2 pipeline is best run with shards ≤ 256³ (≤ 32 MB rows). For the
  * reference's 512³ shards (268 MB rows — hostile to Spark row handling)
  * use [[graft.plans.ImarisToZarr]], whose mapPartitions tasks stream
  * voxels without materializing shard-sized rows.
  */
class Zarr3DataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "zarr3"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Zarr3DataSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new Zarr3Table(properties.asScala.toMap)
}

object Zarr3DataSource {
  val schema: StructType = StructType(Seq(
    StructField("sz", LongType), StructField("sy", LongType), StructField("sx", LongType),
    StructField("z0", LongType), StructField("z1", LongType),
    StructField("y0", LongType), StructField("y1", LongType),
    StructField("x0", LongType), StructField("x1", LongType),
    StructField("data", BinaryType)))

  private[sinks] def parseShape(props: Map[String, String], key: String): Shape3 = {
    val s = props.getOrElse(key, sys.error(s"zarr3 sink requires option '$key' (Z,Y,X)"))
    val p = s.split(",").map(_.trim.toLong)
    require(p.length == 3, s"option '$key' must be Z,Y,X, got: $s")
    Shape3(p(0), p(1), p(2))
  }
}

final class Zarr3Table(props: Map[String, String]) extends Table with SupportsWrite {
  override def name(): String = s"zarr3(${props.getOrElse("path", "?")})"
  override def schema(): StructType = Zarr3DataSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val in = info.schema()
    for (f <- Zarr3DataSource.schema.fields)
      require(in.fieldNames.contains(f.name),
        s"zarr3 sink input must carry column '${f.name}' (got ${in.fieldNames.mkString(",")})")
    new WriteBuilder with SupportsTruncate {
      // mode("overwrite") must leave NO trace of the previous store: a
      // reshape changes the shard grid, so same-coordinate overwrites
      // alone would leave stale shard files from the old grid behind.
      // The driver deletes the level directory before writing zarr.json.
      private var doTruncate = false
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def build(): Write = new Zarr3Write(props, in, doTruncate)
    }
  }
}

final class Zarr3Write(
    props: Map[String, String], input: StructType,
    truncateFirst: Boolean = false) extends Write with BatchWrite {
  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // driver-side store init BEFORE any task (W7→driver, X9)
    val path = props.getOrElse("path", sys.error("zarr3 sink requires option 'path'"))
    val shape = Zarr3DataSource.parseShape(props, "shape")
    val shard = Zarr3DataSource.parseShape(props, "shard")
    val chunk = Zarr3DataSource.parseShape(props, "chunk")
    val level = props.getOrElse("zstdLevel", "3").toInt
    val codec = props.getOrElse("codec", "zstd")
    val hconf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    if (truncateFirst) {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) fs.delete(p, true)
    }
    val metaJson = ZarrV3.arrayMetadata(
      Seq(1L, 1L, shape.z, shape.y, shape.x),
      Seq(1L, 1L, shard.z, shard.y, shard.x),
      Seq(1L, 1L, chunk.z, chunk.y, chunk.x), level, codec)
    ZarrV3.writeString(hconf, s"$path/zarr.json", metaJson.render)
    new Zarr3WriterFactory(path, shard, chunk, level, codec, input.fieldNames,
      new org.apache.spark.util.SerializableConfiguration(hconf))
  }

  // one shard per task ⇒ nothing to coordinate at commit (see scaladoc)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final case class Zarr3Commit(shards: Long, bytes: Long) extends WriterCommitMessage

final class Zarr3WriterFactory(
    path: String, shard: Shape3, chunk: Shape3, zstdLevel: Int, codec: String,
    cols: Array[String],
    serConf: org.apache.spark.util.SerializableConfiguration) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val conf = serConf.value
      private val idx = cols.zipWithIndex.toMap
      private var shards = 0L
      private var bytes = 0L

      override def write(row: InternalRow): Unit = {
        def l(c: String): Long = row.getLong(idx(c))
        val payload = row.getBinary(idx("data"))
        val dataShape = Shape3(l("z1") - l("z0"), l("y1") - l("y0"), l("x1") - l("x0"))
        val voxels = new Array[Short](payload.length / 2)
        Voxels.fromLE(payload, 0, voxels, voxels.length)
        val written = ZarrV3.writeShard(
          conf, s"$path/${ZarrV3.shardKey(l("sz"), l("sy"), l("sx"))}",
          voxels, dataShape, shard, chunk, zstdLevel, codec)
        shards += 1; bytes += written
      }

      override def commit(): WriterCommitMessage = Zarr3Commit(shards, bytes)
      override def abort(): Unit = () // overwritten idempotently on retry
      override def close(): Unit = ()
    }
}
