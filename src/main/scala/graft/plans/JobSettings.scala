package graft.plans

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import scala.jdk.CollectionConverters._

import graft.core.Geometry.Shape3

/** Validated job-settings schema for the IMS → OME-Zarr job (reference
  * `ImarisJobSettings`, `models.py:20-143`), accepted through the same
  * three entry modes as the reference's `job_entrypoint`
  * (`imaris_job.py:753-770`):
  *
  *  1. `--job-settings '<json>'` — inline JSON document;
  *  2. `--config-file <path>` — same JSON from a (Hadoop-FS) file;
  *  3. environment variables `GRAFT_JOB_<UPPER_SNAKE_KEY>` — e.g.
  *     `GRAFT_JOB_INPUT_SOURCE`, `GRAFT_JOB_SHARD_SIZE="512,512,512"`.
  *
  * Field names are the reference's snake_case keys. Unknown keys are
  * REJECTED (typo safety) except the reference's scheduler/compressor
  * plumbing keys, which have no meaning on Spark and are accepted and
  * ignored so existing reference configs run unchanged:
  * `num_of_partitions` / `partition_to_process` (Spark owns placement —
  * run ONE job over all files), `dask_workers`, `use_tensorstore`,
  * `tensorstore_batch_size`, `compress_job_save_kwargs`,
  * `compressor_name` (+`compressor_kwargs`, whose `clevel` IS honored as
  * the zstd level).
  */
final case class JobSettings(
    inputSource: String,
    outputDirectory: String,
    s3Location: Option[String] = None,
    shardSize: Shape3 = Shape3(512, 512, 512),
    chunkSize: Shape3 = Shape3(128, 256, 256),
    scaleFactor: Shape3 = Shape3(2, 2, 2),
    downsampleLevels: Int = 5,
    downsampleMode: String = "mean",
    translateImarisPyramid: Boolean = true,
    partitionMode: String = "shard", // models.py:121-130 (closes D6)
    singleTileUpload: Boolean = false,
    zstdLevel: Int = 3,
    codec: String = "zstd",
    // W1/P8: output format. 3 = sharded Zarr v3 (reference tensorstore
    // path; OUR default — the scale path); 2 = legacy Zarr v2 with
    // blosc chunks (the reference's `use_tensorstore=False` default,
    // models.py:91-98). `use_tensorstore` in a config is honored.
    zarrFormat: Int = 3,
    bloscCname: String = "zstd",
    bloscShuffle: String = "shuffle",
    // v2 chunk-key layout: "." flat (zarr-python + reference default),
    // "/" nested directory store (not a reference knob — ecosystem interop)
    v2Separator: String = ".") {

  def validated: JobSettings = {
    require(inputSource.nonEmpty, "input_source is required")
    require(outputDirectory.nonEmpty, "output_directory is required")
    require(JobSettings.DownsampleModes.contains(downsampleMode),
      s"downsample_mode must be one of ${JobSettings.DownsampleModes.mkString("|")}, got: $downsampleMode")
    require(partitionMode == "file" || partitionMode == "shard",
      s"partition_mode must be file|shard, got: $partitionMode")
    require(downsampleLevels >= 1, s"downsample_levels must be >= 1, got: $downsampleLevels")
    require(zstdLevel >= 1 && zstdLevel <= 22, s"zstd level must be in [1,22], got: $zstdLevel")
    require(codec == "zstd" || codec == "blosc" || codec == "gzip",
      s"codec must be zstd|blosc|gzip, got: $codec")
    require(zarrFormat == 2 || zarrFormat == 3, s"zarr_format must be 2|3, got: $zarrFormat")
    if (zarrFormat == 2) {
      require(zstdLevel <= 9, s"blosc clevel must be in [1,9] for zarr v2, got: $zstdLevel")
      require(Set("zstd", "lz4", "lz4hc", "zlib", "snappy").contains(bloscCname),
        s"blosc cname must be zstd|lz4|lz4hc|zlib|snappy, got: $bloscCname")
      require(graft.sinks.Blosc.ShuffleNames.contains(bloscShuffle),
        s"shuffle must be one of ${graft.sinks.Blosc.ShuffleNames.keys.toSeq.sorted.mkString("|")}, got: $bloscShuffle")
      require(v2Separator == "." || v2Separator == "/",
        s"dimension_separator must be '.' or '/', got: $v2Separator")
    }
    for ((s, k) <- Seq((shardSize, "shard_size"), (chunkSize, "chunk_size"), (scaleFactor, "scale_factor")))
      require(s.z > 0 && s.y > 0 && s.x > 0, s"$k must be three positive integers, got: $s")
    this
  }
}

object JobSettings {

  val DownsampleModes: Set[String] = Set("stride", "median", "mode", "mean", "min", "max")

  /** Keys we parse. `use_tensorstore` (the reference's v2-vs-v3 writer
    * switch, models.py:91-98) and `compressor_kwargs` (cname/clevel/
    * shuffle, with P8's shuffle-name map) are honored.
    */
  private val Known = Set(
    "input_source", "output_directory", "s3_location", "shard_size",
    "chunk_size", "scale_factor", "downsample_levels", "downsample_mode",
    "translate_imaris_pyramid", "partition_mode", "single_tile_upload",
    "zstd_level", "codec", "zarr_format", "use_tensorstore",
    "compressor_kwargs", "dimension_separator")

  /** Reference keys accepted for config compatibility but meaningless on
    * Spark (see class scaladoc).
    */
  private val Ignored = Set(
    "num_of_partitions", "partition_to_process", "dask_workers",
    "tensorstore_batch_size", "compress_job_save_kwargs",
    "compressor_name")

  private val mapper = new ObjectMapper()

  /** P8 shuffle resolution shared by the JSON/env/CLI entry paths:
    * accepts the reference's string names AND the raw numcodecs int
    * constants ("-1".."2"); returns the blosc int constant with a clear
    * error for anything else.
    */
  def resolveShuffle(raw: String): Int =
    graft.sinks.Blosc.ShuffleNames.getOrElse(raw,
      graft.sinks.Blosc.ShuffleNames.values.find(_.toString == raw).getOrElse(
        sys.error(s"unknown blosc shuffle: $raw " +
          s"(${graft.sinks.Blosc.ShuffleNames.keys.toSeq.sorted.mkString("|")} or -1..2)")))

  /** Canonical NAME for a raw shuffle spelling (names or numcodecs ints). */
  def shuffleName(raw: String): String = {
    val v = resolveShuffle(raw)
    graft.sinks.Blosc.ShuffleNames.collectFirst { case (k, `v`) => k }.get
  }

  private def shape(n: JsonNode, key: String): Shape3 = {
    require(n.isArray && n.size == 3, s"$key must be a 3-element array, got: $n")
    Shape3(n.get(0).asLong, n.get(1).asLong, n.get(2).asLong)
  }

  /** Parse + validate a JSON settings document (entry mode 1). */
  def fromJson(json: String): JobSettings = {
    val root = mapper.readTree(json)
    require(root != null && root.isObject, "job settings must be a JSON object")
    val unknown = root.fieldNames.asScala.toSeq.filterNot(k => Known(k) || Ignored(k))
    require(unknown.isEmpty, s"unknown job-settings key(s): ${unknown.sorted.mkString(", ")}")
    def str(k: String): Option[String] = Option(root.get(k)).map(_.asText)
    def bool(k: String, d: Boolean): Boolean = Option(root.get(k)).map(_.asBoolean).getOrElse(d)
    def int(k: String, d: Int): Int = Option(root.get(k)).map(_.asInt).getOrElse(d)
    def shp(k: String, d: Shape3): Shape3 = Option(root.get(k)).map(shape(_, k)).getOrElse(d)
    // compressor_kwargs.clevel wins over default, zstd_level wins over both
    val kwargs = Option(root.get("compressor_kwargs"))
    val kwargsLevel = kwargs.flatMap(n => Option(n.get("clevel"))).map(_.asInt)
    val kwargsCname = kwargs.flatMap(n => Option(n.get("cname"))).map(_.asText)
    // P8 shuffle-name resolution: accept the reference's string names or
    // the raw numcodecs int constants (-1..2)
    val kwargsShuffle =
      kwargs.flatMap(n => Option(n.get("shuffle"))).map(n => shuffleName(n.asText))
    // explicit zarr_format wins; else use_tensorstore=false selects the
    // reference's legacy v2 writer path
    val fmt = Option(root.get("zarr_format")).map(_.asInt).getOrElse(
      if (Option(root.get("use_tensorstore")).exists(!_.asBoolean)) 2 else 3)
    JobSettings(
      inputSource = str("input_source").getOrElse(""),
      outputDirectory = str("output_directory").getOrElse(""),
      s3Location = str("s3_location"),
      shardSize = shp("shard_size", Shape3(512, 512, 512)),
      chunkSize = shp("chunk_size", Shape3(128, 256, 256)),
      scaleFactor = shp("scale_factor", Shape3(2, 2, 2)),
      downsampleLevels = int("downsample_levels", 5),
      downsampleMode = str("downsample_mode").getOrElse("mean"),
      translateImarisPyramid = bool("translate_imaris_pyramid", d = true),
      partitionMode = str("partition_mode").getOrElse("shard"),
      singleTileUpload = bool("single_tile_upload", d = false),
      zstdLevel = int("zstd_level", kwargsLevel.getOrElse(3)),
      codec = str("codec").getOrElse("zstd"),
      zarrFormat = fmt,
      bloscCname = kwargsCname.getOrElse("zstd"),
      bloscShuffle = kwargsShuffle.getOrElse("shuffle"),
      v2Separator = str("dimension_separator").getOrElse(".")
    ).validated
  }

  /** Entry mode 2: same JSON document read from a Hadoop-FS path
    * (reference `from_config_file`, `imaris_job.py:763-765`).
    */
  def fromConfigFile(conf: Configuration, pathStr: String): JobSettings = {
    val p = new Path(pathStr)
    val fs = p.getFileSystem(conf)
    require(fs.exists(p), s"config file not found: $pathStr")
    val in = fs.open(p)
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    fromJson(body)
  }

  /** Entry mode 3: `GRAFT_JOB_<UPPER_SNAKE_KEY>` environment variables
    * (reference: pydantic env-settings fallback, `imaris_job.py:766-768`).
    * Shapes are comma-separated `Z,Y,X`. Active iff
    * `GRAFT_JOB_INPUT_SOURCE` is set.
    */
  def fromEnv(env: Map[String, String]): JobSettings = {
    def v(key: String): Option[String] = env.get("GRAFT_JOB_" + key.toUpperCase)
    def shp(key: String, d: Shape3): Shape3 = v(key).map { s =>
      val p = s.split(",").map(_.trim.toLong)
      require(p.length == 3, s"$key must be Z,Y,X, got: $s")
      Shape3(p(0), p(1), p(2))
    }.getOrElse(d)
    JobSettings(
      inputSource = v("input_source").getOrElse(""),
      outputDirectory = v("output_directory").getOrElse(""),
      s3Location = v("s3_location"),
      shardSize = shp("shard_size", Shape3(512, 512, 512)),
      chunkSize = shp("chunk_size", Shape3(128, 256, 256)),
      scaleFactor = shp("scale_factor", Shape3(2, 2, 2)),
      downsampleLevels = v("downsample_levels").map(_.toInt).getOrElse(5),
      downsampleMode = v("downsample_mode").getOrElse("mean"),
      translateImarisPyramid = v("translate_imaris_pyramid").forall(_.toBoolean),
      partitionMode = v("partition_mode").getOrElse("shard"),
      singleTileUpload = v("single_tile_upload").exists(_.toBoolean),
      zstdLevel = v("zstd_level").map(_.toInt).getOrElse(3),
      codec = v("codec").getOrElse("zstd"),
      zarrFormat = v("zarr_format").map(_.toInt).getOrElse(3),
      bloscCname = v("blosc_cname").getOrElse("zstd"),
      bloscShuffle = v("blosc_shuffle").getOrElse("shuffle"),
      v2Separator = v("dimension_separator").getOrElse(".")
    ).validated
  }
}
