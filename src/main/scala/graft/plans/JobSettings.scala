package graft.plans

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.IntNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.core.Geometry.Shape3
import graft.plans.ImarisToZarr.Settings

/** The IMS → OME-Zarr job's settings (reference `ImarisJobSettings`,
  * `models.py:20-143`): the job-level fields plus the conversion's
  * [[ImarisToZarr.Settings]], which holds every conversion default and
  * rule. They are accepted through the same three entry modes as the
  * reference's `job_entrypoint` (`imaris_job.py:753-770`):
  *
  *  1. `--job-settings '<json>'` — inline JSON document;
  *  2. `--config-file <path>` — same JSON from a (Hadoop-FS) file;
  *  3. environment variables `GRAFT_JOB_<UPPER_SNAKE_KEY>` — e.g.
  *     `GRAFT_JOB_INPUT_SOURCE`, `GRAFT_JOB_SHARD_SIZE="512,512,512"` —
  *     with the CLI flags applied over them.
  *
  * All three walk one table, [[JobSettings.Keys]]. Field names are the
  * reference's snake_case keys. Unknown keys are REJECTED (typo safety)
  * except the reference's scheduler/compressor plumbing keys, which have
  * no meaning on Spark and are accepted and ignored so existing reference
  * configs run unchanged: `num_of_partitions` / `partition_to_process`
  * (Spark owns placement — run ONE job over all files), `dask_workers`,
  * `tensorstore_batch_size`, `compress_job_save_kwargs`,
  * `compressor_name`. `use_tensorstore` and `compressor_kwargs` are
  * honored (see [[JobSettings.fromJson]]).
  */
final case class JobSettings(
    inputSource: String,
    outputDirectory: String,
    s3Location: Option[String] = None,
    singleTileUpload: Boolean = false,
    settings: Settings = Settings()) {

  def validated: JobSettings = {
    require(inputSource.nonEmpty, "input_source is required")
    require(outputDirectory.nonEmpty, "output_directory is required")
    settings.validated
    this
  }
}

object JobSettings {

  /** One settings key: its snake_case name (the JSON key, and the env
    * variable `GRAFT_JOB_<NAME>`), its CLI flag, and how a JSON value or a
    * text value (env or flag) sets it. A flag with a `switchValue` takes
    * no argument and sets that value.
    */
  final case class Key(
      name: String, flag: Option[String],
      setJson: (JobSettings, JsonNode) => JobSettings,
      setText: (JobSettings, String) => JobSettings,
      switchValue: Option[String] = None) {
    def env: String = "GRAFT_JOB_" + name.toUpperCase
  }

  /** A key whose JSON value goes through `text` when it is textual and
    * through `json` otherwise; either failing is an
    * `IllegalArgumentException` naming the key.
    */
  private def key[A](name: String, flag: String, json: JsonNode => A, text: String => A)(
      set: (JobSettings, A) => JobSettings): Key =
    Key(name, Option(flag), (j, n) => set(j, jsonValue(name, n, json, text)),
      (j, s) => set(j, named(name)(text(s))))

  /** `parse`, with a failure rethrown as an `IllegalArgumentException`
    * naming the key.
    */
  private def named[A](name: String)(parse: => A): A =
    try parse
    catch { case e: IllegalArgumentException => throw new IllegalArgumentException(s"$name: ${e.getMessage}", e) }

  /** A JSON value: textual through the key's `text` parser (the one env
    * and flags use), otherwise through `json`.
    */
  private def jsonValue[A](name: String, n: JsonNode, json: JsonNode => A, text: String => A): A =
    named(name)(if (n.isTextual) text(n.asText) else json(n))

  private def str(name: String, flag: String)(set: (JobSettings, String) => JobSettings): Key =
    key(name, flag, n => throw new IllegalArgumentException(s"must be a string, got: $n"), identity)(set)
  private def int(name: String, flag: String)(set: (JobSettings, Int) => JobSettings): Key =
    key(name, flag, jsonInt, _.toInt)(set)
  private def shape(name: String, flag: String)(set: (JobSettings, Shape3) => JobSettings): Key =
    key(name, flag, jsonShape, textShape)(set)
  private def switch(name: String, flag: String, value: Boolean)(
      set: (JobSettings, Boolean) => JobSettings): Key =
    key(name, flag, jsonBoolean, _.toBoolean)(set).copy(switchValue = Some(value.toString))
  /** A setter on the conversion's [[Settings]]. */
  private def conv[A](set: (Settings, A) => Settings): (JobSettings, A) => JobSettings =
    (j, a) => j.copy(settings = set(j.settings, a))

  /** Every key, in the order the entry modes apply them. */
  val Keys: Seq[Key] = Seq(
    str("input_source", "--input")((j, v) => j.copy(inputSource = v)),
    str("output_directory", "--output")((j, v) => j.copy(outputDirectory = v)),
    str("s3_location", "--s3-location")((j, v) => j.copy(s3Location = Some(v))),
    switch("single_tile_upload", "--single-tile", value = true)((j, v) => j.copy(singleTileUpload = v)),
    shape("shard_size", "--shard")(conv((s, v) => s.copy(shard = v))),
    shape("chunk_size", "--chunk")(conv((s, v) => s.copy(chunk = v))),
    shape("scale_factor", null)(conv((s, v) => s.copy(scaleFactor = v))),
    int("downsample_levels", "--levels")(conv((s, v) => s.copy(computeLevels = v))),
    str("downsample_mode", "--mode")(conv((s, v) => s.copy(downsampleMode = v))),
    switch("translate_imaris_pyramid", "--no-translate", value = false)(
      conv((s, v) => s.copy(translatePyramid = v))),
    str("partition_mode", "--partition-mode")(conv((s, v) => s.copy(partitionMode = v))),
    int("zstd_level", "--zstd-level")(conv((s, v) => s.copy(zstdLevel = v))),
    str("codec", "--codec")(conv((s, v) => s.copy(codecName = v))),
    int("zarr_format", "--zarr-format")(conv((s, v) => s.copy(zarrFormat = v))),
    str("blosc_cname", "--blosc-cname")(conv((s, v) => s.copy(bloscCname = v))),
    key("blosc_shuffle", "--blosc-shuffle", n => resolveShuffle(jsonInt(n).toString), resolveShuffle)(
      conv((s, v) => s.copy(bloscShuffle = v))),
    str("dimension_separator", "--v2-separator")(conv((s, v) => s.copy(v2Separator = v))))

  /** Top-level JSON keys: the table's, except the two blosc keys, which
    * JSON spells only inside `compressor_kwargs` (as the reference does),
    * plus the two reference keys read for their aliases.
    */
  private val JsonKeys =
    Keys.map(_.name).toSet -- Set("blosc_cname", "blosc_shuffle") ++ Set("use_tensorstore", "compressor_kwargs")

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
    * constants ("-1".."2"); returns the blosc int constant.
    */
  private def resolveShuffle(raw: String): Int = {
    val names = graft.sinks.Blosc.ShuffleNames
    names.get(raw).orElse(names.values.find(_.toString == raw)).getOrElse(
      throw new IllegalArgumentException(s"unknown blosc shuffle: $raw; shuffle must be one of " +
        s"${names.keys.toSeq.sorted.mkString("|")} or -1..2"))
  }

  /** A JSON integral number that fits an Int. */
  private def jsonInt(n: JsonNode): Int = {
    require(n.isIntegralNumber && n.canConvertToInt, s"must be an integer, got: $n")
    n.intValue
  }

  private def jsonBoolean(n: JsonNode): Boolean = {
    require(n.isBoolean, s"must be true or false, got: $n")
    n.booleanValue
  }

  private def jsonShape(n: JsonNode): Shape3 = {
    require(n.isArray && n.size == 3, s"must be a 3-element array, got: $n")
    val e = (0 until 3).map(n.get)
    require(e.forall(v => v.isIntegralNumber && v.canConvertToLong), s"must hold three integers, got: $n")
    Shape3(e(0).longValue, e(1).longValue, e(2).longValue)
  }

  private def textShape(s: String): Shape3 = {
    val p = s.split(",").map(_.trim.toLong)
    require(p.length == 3, s"must be Z,Y,X, got: $s")
    Shape3(p(0), p(1), p(2))
  }

  /** Entry mode 1: parse + validate a JSON settings document. Besides
    * the table's keys, `compressor_kwargs` supplies `clevel` (the level,
    * when `zstd_level` is absent), `cname` and `shuffle`; and
    * `use_tensorstore: false` selects the reference's legacy v2 writer
    * when `zarr_format` is absent.
    */
  def fromJson(json: String): JobSettings = {
    val root = mapper.readTree(json)
    require(root != null && root.isObject, "job settings must be a JSON object")
    val unknown = root.fieldNames.asScala.toSeq.filterNot(k => JsonKeys(k) || Ignored(k))
    require(unknown.isEmpty, s"unknown job-settings key(s): ${unknown.sorted.mkString(", ")}")
    // a missing key and a JSON null both leave the setting at its default
    def present(n: JsonNode): Option[JsonNode] = Option(n).filterNot(_.isNull)
    def kwarg(k: String) = present(root.get("compressor_kwargs")).flatMap(n => present(n.get(k)))
    val aliases = Map(
      "zstd_level" -> kwarg("clevel"),
      "blosc_cname" -> kwarg("cname"),
      "blosc_shuffle" -> kwarg("shuffle"),
      "zarr_format" -> present(root.get("use_tensorstore"))
        .filter(n => !jsonValue("use_tensorstore", n, jsonBoolean, _.toBoolean))
        .map(_ => IntNode.valueOf(2)))
    def value(k: String): Option[JsonNode] = present(root.get(k)).orElse(aliases.get(k).flatten)
    Keys.foldLeft(JobSettings("", "")) { (j, k) => value(k.name).fold(j)(k.setJson(j, _)) }.validated
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
    * Shapes are comma-separated `Z,Y,X`.
    */
  def fromEnv(env: Map[String, String]): JobSettings =
    Keys.foldLeft(JobSettings("", "")) { (j, k) => env.get(k.env).fold(j)(k.setText(j, _)) }.validated

  /** The CLI flags of entry mode 3, applied over `base` (flags win
    * field-wise). Shapes are comma-separated `Z,Y,X`.
    */
  def fromArgs(argv: Array[String], base: JobSettings): JobSettings = {
    val byFlag = Keys.flatMap(k => k.flag.map(_ -> k)).toMap
    @tailrec def go(i: Int, j: JobSettings): JobSettings =
      if (i >= argv.length) j
      else byFlag.get(argv(i)) match {
        case Some(k) if k.switchValue.isDefined => go(i + 1, k.setText(j, k.switchValue.get))
        case Some(k) =>
          require(i + 1 < argv.length, s"${argv(i)} needs a value")
          go(i + 2, k.setText(j, argv(i + 1)))
        case None => throw new IllegalArgumentException(
          s"unknown arg: ${argv(i)} (flags: ${Keys.flatMap(_.flag).mkString(" ")})")
      }
    go(0, base).validated
  }
}
