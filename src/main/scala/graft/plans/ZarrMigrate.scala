package graft.plans

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

import graft.core.Geometry
import graft.core.Geometry.{Shape3, TrueShape}
import graft.sinks.{ZarrV2, ZarrV3}

/** Legacy-store migration: Zarr v2 (blosc chunks, one file per chunk —
  * the reference's `use_tensorstore=False` output) → sharded Zarr v3
  * (its tensorstore output). Completes the format matrix: a user can
  * convert IMS → v2, IMS → v3, or lift an EXISTING v2 store to v3
  * without re-reading the microscope file.
  *
  * Same execution shape as the conversion plan: driver-side planning is
  * metadata-only (read each level's `.zarray`), all v3 store metadata is
  * written by the driver up front, and voxel work is one pooled RDD job
  * where each task reads its shard-aligned region from v2 chunk files and
  * writes exactly one v3 shard — coordination-free, shuffle-free, ~task
  * count = store bytes / shard bytes at 100 TB. A job with fewer
  * partitions than slots encodes each shard's chunks on the idle slots
  * ([[ImarisToZarr.encodeThreads]]).
  */
object ZarrMigrate {

  private val mapper = new ObjectMapper()
  private val Defaults = ImarisToZarr.Settings()

  /** One v2 level's geometry, read from its `.zarray`. `separator`
    * honors foreign stores' `dimension_separator` ("." default, "/" for
    * zarr-python nested stores).
    */
  final case class LevelMeta(shape: Shape3, chunk: Shape3, separator: String)

  def readLevelMeta(conf: org.apache.hadoop.conf.Configuration,
                    levelDir: String): LevelMeta = {
    val root = mapper.readTree(
      new String(ZarrV3.read(conf, s"$levelDir/.zarray"), "UTF-8"))
    require(root.get("zarr_format").asInt == 2, s"$levelDir: not a zarr v2 array")
    require(root.get("dtype").asText == "<u2", s"$levelDir: only <u2 supported")
    require(root.get("order").asText == "C", s"$levelDir: only C order supported")
    def shp(k: String) = {
      val n = root.get(k)
      require(n != null && n.isArray && n.size == 3, s"$levelDir: $k must be 3-D")
      Shape3(n.get(0).asLong, n.get(1).asLong, n.get(2).asLong)
    }
    val sep = Option(root.get("dimension_separator")).map(_.asText).getOrElse(".")
    require(sep == "." || sep == "/", s"$levelDir: unsupported dimension_separator: $sep")
    LevelMeta(shp("shape"), shp("chunks"), sep)
  }

  /** Migrate `srcStore` (v2) to `dstStore` (v3 sharded). Returns per-shard
    * stats. The v3 inner chunk equals the v2 chunk (no recompression
    * boundary mismatch); `shard` is clamped per level exactly like the
    * conversion plan. The defaults and rules are the conversion's
    * ([[ImarisToZarr.Settings]]).
    */
  def v2ToV3(spark: SparkSession, srcStore: String, dstStore: String,
             shard: Shape3 = Defaults.shard,
             zstdLevel: Int = Defaults.zstdLevel,
             codec: String = Defaults.codecName): Seq[ImarisToZarr.ShardStats] = {
    Defaults.copy(shard = shard, zstdLevel = zstdLevel, codecName = codec).validated
    val hconf = spark.sparkContext.hadoopConfiguration
    val serConf = new SerializableConfiguration(hconf)
    import org.apache.hadoop.fs.Path
    val fs = new Path(srcStore).getFileSystem(hconf)

    // levels = numeric child dirs, ascending
    val levels = fs.listStatus(new Path(srcStore)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.forall(_.isDigit))
      .map(_.toInt)
      .sorted
    require(levels.nonEmpty && levels == (0 until levels.size),
      s"$srcStore: expected contiguous numeric level dirs, got: $levels")

    val metas = levels.map(l => l -> readLevelMeta(hconf, s"$srcStore/$l")).toMap

    // ---- v3 metadata, driver-side (root attributes copied verbatim) ----
    // Two .zattrs flavors exist in the wild: plain attributes ({"ome":...},
    // what zarr v2 defines and what our v2 writer emits) and the
    // reference's quirk of dumping a v3-shaped group dict ({"zarr_format":3,
    // "node_type":"group","attributes":{...}}) into .zattrs. Unwrap the
    // latter so both flavors migrate to identically-nested v3 attributes.
    val rawAttrs = new String(ZarrV3.read(hconf, s"$srcStore/.zattrs"), "UTF-8")
    val attrsNode = mapper.readTree(rawAttrs)
    // match the exact quirk shape (a v3 GROUP document), not mere key
    // presence — user attributes may legitimately contain an "attributes"
    // key and must migrate verbatim
    val attrs =
      if (attrsNode.has("attributes") &&
        attrsNode.path("node_type").asText("") == "group" &&
        attrsNode.path("zarr_format").asInt(0) == 3)
        attrsNode.get("attributes").toString
      else rawAttrs
    ZarrV3.writeString(hconf, s"$dstStore/zarr.json",
      s"""{"zarr_format":3,"node_type":"group","attributes":$attrs}""")
    val specs = levels.map { l =>
      val m = metas(l)
      // shard must be a chunk multiple and cover >= one chunk
      val (c, s) = Geometry.clampSpec(m.shape, m.chunk, shard)
      ZarrV3.writeString(hconf, s"$dstStore/$l/zarr.json",
        ZarrV3.arrayMetadata(
          Seq(1L, 1L, m.shape.z, m.shape.y, m.shape.x),
          Seq(1L, 1L, s.z, s.y, s.x),
          Seq(1L, 1L, c.z, c.y, c.x),
          zstdLevel, codec).render)
      l -> (c, s)
    }.toMap

    // ---- one pooled job over every (level, shard) ----
    val tasks = levels.flatMap(l => Geometry.shardTasks(
      s"$srcStore/$l", l, TrueShape(metas(l).shape), specs(l)._2))
    if (tasks.isEmpty) return Seq.empty
    val maxTaskBytes = tasks.map(t => t.region.voxels * 2L).max * 3
    val par = ImarisToZarr.memoryCappedParallelism(spark, tasks.size, maxTaskBytes)
    val threads = ImarisToZarr.encodeThreads(spark, par)
    val io = levels.map(l => l -> (metas(l), specs(l))).toMap
    spark.sparkContext.parallelize(tasks, par).map { t =>
      val (m, (chunkL, shardL)) = io(t.level)
      // foreign stores may omit all-fill chunks (write_empty_chunks=False)
      val data = ZarrV2.readRegion(serConf.value, t.file, m.shape, m.chunk,
        t.z0, t.z1, t.y0, t.y1, t.x0, t.x1, m.separator, allowMissing = true)
      val dataShape = t.region.shape
      val key = ZarrV3.shardKey(t.sz, t.sy, t.sx)
      val written = ZarrV3.writeShard(serConf.value, s"$dstStore/${t.level}/$key",
        data, dataShape, shardL, chunkL, zstdLevel, codec, threads)
      ImarisToZarr.ShardStats(t.file, t.level, key, written, dataShape.voxels)
    }.collect().toSeq
  }
}
