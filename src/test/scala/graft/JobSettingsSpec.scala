package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Geometry.Shape3
import graft.plans.{ImarisToZarr, JobSettings}
import graft.sinks.Blosc

/** Settings schema (reference `models.py:20-143`): three entry modes,
  * field validation, reference-config compatibility.
  */
class JobSettingsSpec extends AnyFunSuite {

  private val conf = new org.apache.hadoop.conf.Configuration()

  test("JSON entry: full document round-trips") {
    val s = JobSettings.fromJson(
      """{"input_source":"/in","output_directory":"/out",
        |"s3_location":"s3://bkt/x","shard_size":[256,256,256],
        |"chunk_size":[64,128,128],"scale_factor":[1,2,2],
        |"downsample_levels":3,"downsample_mode":"median",
        |"translate_imaris_pyramid":false,"partition_mode":"file",
        |"single_tile_upload":true,"zstd_level":5}""".stripMargin)
    assert(s == JobSettings("/in", "/out", Some("s3://bkt/x"), singleTileUpload = true,
      ImarisToZarr.Settings(shard = Shape3(256, 256, 256), chunk = Shape3(64, 128, 128),
        scaleFactor = Shape3(1, 2, 2), computeLevels = 3, downsampleMode = "median",
        translatePyramid = false, partitionMode = "file", zstdLevel = 5)))
  }

  test("JSON entry: defaults match the reference schema") {
    val s = JobSettings.fromJson("""{"input_source":"/in","output_directory":"/out"}""")
    val c = s.settings
    assert(c.shard == Shape3(512, 512, 512))
    assert(c.chunk == Shape3(128, 256, 256))
    assert(c.scaleFactor == Shape3(2, 2, 2))
    assert(c.computeLevels == 5 && c.downsampleMode == "mean")
    assert(c.translatePyramid && c.partitionMode == "shard")
    assert(!s.singleTileUpload && c.zstdLevel == 3 && s.s3Location.isEmpty)
    // one default per setting: the API's is the JSON's
    assert(c == ImarisToZarr.Settings())
  }

  test("JSON entry: validation errors") {
    def bad(json: String, msgPart: String): Unit = {
      val e = intercept[Exception](JobSettings.fromJson(json))
      assert(e.getMessage.contains(msgPart), s"got: ${e.getMessage}")
    }
    bad("""{"output_directory":"/out"}""", "input_source is required")
    bad("""{"input_source":"/in"}""", "output_directory is required")
    bad("""{"input_source":"/in","output_directory":"/out","downsample_mode":"avg"}""",
      "downsample_mode must be one of")
    bad("""{"input_source":"/in","output_directory":"/out","partition_mode":"tile"}""",
      "partition_mode must be file|shard")
    bad("""{"input_source":"/in","output_directory":"/out","shard_size":[1,2]}""",
      "3-element array")
    bad("""{"input_source":"/in","output_directory":"/out","shard_size":[0,1,1]}""",
      "three positive integers")
    bad("""{"input_source":"/in","output_directory":"/out","downsample_levels":0}""",
      "downsample_levels must be >= 1")
    bad("""{"input_source":"/in","output_directory":"/out","zstd_level":40}""",
      "zstd level must be in [1,22]")
    bad("""{"input_source":"/in","output_directory":"/out","shard_syze":[1,1,1]}""",
      "unknown job-settings key")
    bad("""[1,2,3]""", "JSON object")
  }

  test("JSON entry: a wrongly typed value is rejected naming the key, not coerced") {
    def json(field: String) = s"""{"input_source":"/in","output_directory":"/out",$field}"""
    def bad(field: String, msgParts: String*): Unit = {
      val e = intercept[IllegalArgumentException](JobSettings.fromJson(json(field)))
      assert(msgParts.forall(e.getMessage.contains), s"got: ${e.getMessage}")
    }
    bad(""""translate_imaris_pyramid":"yes"""", "translate_imaris_pyramid", "yes")
    bad(""""downsample_levels":2.7""", "downsample_levels", "2.7")
    bad(""""zstd_level":"abc"""", "zstd_level", "abc")
    bad(""""shard_size":[64,"x",64]""", "shard_size", "\"x\"")
    bad(""""downsample_levels":4294967296""", "downsample_levels", "4294967296")
    bad(""""single_tile_upload":1""", "single_tile_upload")
    bad(""""codec":5""", "codec")
    bad(""""use_tensorstore":"no"""", "use_tensorstore", "no")
  }

  test("JSON entry: a textual value goes through the key's text parser") {
    def json(field: String) = s"""{"input_source":"/in","output_directory":"/out",$field}"""
    assert(JobSettings.fromJson(json(""""zstd_level":"5"""")).settings.zstdLevel == 5)
    assert(!JobSettings.fromJson(json(""""translate_imaris_pyramid":"false"""")).settings.translatePyramid)
    assert(JobSettings.fromJson(json(""""shard_size":"64,32,16"""")).settings.shard == Shape3(64, 32, 16))
  }

  test("JSON entry: a null value leaves the key at its default") {
    val s = JobSettings.fromJson(
      """{"input_source":"/in","output_directory":"/out","s3_location":null,
        |"zstd_level":null,"use_tensorstore":null,"compressor_kwargs":{"clevel":null}}""".stripMargin)
    assert(s == JobSettings("/in", "/out"))
  }

  test("reference scheduler/compressor keys are accepted; clevel honored") {
    val s = JobSettings.fromJson(
      """{"input_source":"/in","output_directory":"/out",
        |"num_of_partitions":8,"partition_to_process":3,"dask_workers":4,
        |"use_tensorstore":true,"tensorstore_batch_size":2,
        |"compress_job_save_kwargs":{"n_jobs":-1},
        |"compressor_name":"blosc",
        |"compressor_kwargs":{"cname":"zstd","clevel":7,"shuffle":"shuffle"}}""".stripMargin)
    assert(s.settings.zstdLevel == 7) // compressor_kwargs.clevel flows through
    assert(s.settings.zarrFormat == 3) // use_tensorstore=true → sharded v3
    assert(s.settings.bloscCname == "zstd" && s.settings.bloscShuffle == Blosc.SHUFFLE)
  }

  test("dimension_separator reaches v2Separator from JSON and is validated") {
    val s = JobSettings.fromJson(
      """{"input_source":"/in","output_directory":"/out","zarr_format":2,
        |"dimension_separator":"/"}""".stripMargin)
    assert(s.settings.v2Separator == "/")
    assert(JobSettings.fromJson(
      """{"input_source":"/in","output_directory":"/out"}""").settings.v2Separator == ".")
    intercept[Exception](JobSettings.fromJson(
      """{"input_source":"/in","output_directory":"/out","zarr_format":2,
        |"dimension_separator":"x"}""".stripMargin))
    val e = JobSettings.fromEnv(Map(
      "GRAFT_JOB_INPUT_SOURCE" -> "/in", "GRAFT_JOB_OUTPUT_DIRECTORY" -> "/out",
      "GRAFT_JOB_ZARR_FORMAT" -> "2", "GRAFT_JOB_DIMENSION_SEPARATOR" -> "/"))
    assert(e.settings.v2Separator == "/")
  }

  test("use_tensorstore=false selects the legacy Zarr v2 writer (W1)") {
    val s = JobSettings.fromJson(
      """{"input_source":"/in","output_directory":"/out",
        |"use_tensorstore":false,
        |"compressor_kwargs":{"cname":"lz4","clevel":5,"shuffle":"bitshuffle"}}""".stripMargin)
    assert(s.settings.zarrFormat == 2)
    assert(s.settings.bloscCname == "lz4" && s.settings.bloscShuffle == Blosc.BITSHUFFLE &&
      s.settings.zstdLevel == 5)
    // explicit zarr_format wins over use_tensorstore
    val s2 = JobSettings.fromJson(
      """{"input_source":"/in","output_directory":"/out",
        |"use_tensorstore":false,"zarr_format":3}""".stripMargin)
    assert(s2.settings.zarrFormat == 3)
    // numcodecs int shuffle constants are accepted (P8 name map, both ways)
    val s3 = JobSettings.fromJson(
      """{"input_source":"/in","output_directory":"/out","zarr_format":2,
        |"compressor_kwargs":{"shuffle":2}}""".stripMargin)
    assert(s3.settings.bloscShuffle == Blosc.BITSHUFFLE)
    // v2 path validates blosc bounds: clevel <= 9, known cname/shuffle
    intercept[Exception](JobSettings.fromJson(
      """{"input_source":"/in","output_directory":"/out","zarr_format":2,"zstd_level":15}"""))
    intercept[Exception](JobSettings.fromJson(
      """{"input_source":"/in","output_directory":"/out","zarr_format":2,
        |"compressor_kwargs":{"cname":"blosclz"}}""".stripMargin))
    intercept[Exception](JobSettings.fromJson(
      """{"input_source":"/in","output_directory":"/out","zarr_format":4}"""))
  }

  test("config-file entry reads the same schema from a path") {
    val f = java.nio.file.Files.createTempFile("jobsettings", ".json")
    java.nio.file.Files.writeString(f,
      """{"input_source":"/in","output_directory":"/out","downsample_mode":"max"}""")
    val s = JobSettings.fromConfigFile(conf, f.toString)
    assert(s.settings.downsampleMode == "max")
    intercept[Exception](JobSettings.fromConfigFile(conf, "/no/such/file.json"))
  }

  test("env entry: GRAFT_JOB_* variables") {
    val s = JobSettings.fromEnv(Map(
      "GRAFT_JOB_INPUT_SOURCE" -> "/in",
      "GRAFT_JOB_OUTPUT_DIRECTORY" -> "/out",
      "GRAFT_JOB_SHARD_SIZE" -> "64, 64, 64",
      "GRAFT_JOB_PARTITION_MODE" -> "file",
      "GRAFT_JOB_TRANSLATE_IMARIS_PYRAMID" -> "false"))
    assert(s.settings.shard == Shape3(64, 64, 64))
    assert(s.settings.partitionMode == "file" && !s.settings.translatePyramid)
    intercept[Exception](JobSettings.fromEnv(Map("GRAFT_JOB_INPUT_SOURCE" -> "/in")))
  }

  test("every key: the JSON, GRAFT_JOB_* and flag forms give the same settings") {
    val base = JobSettings("/in", "/out")
    val d = ImarisToZarr.Settings()
    def conv(c: ImarisToZarr.Settings) = base.copy(settings = c)
    // key -> (its JSON field(s), its env and flag text, the expected settings)
    val cases: Map[String, (String, String, JobSettings)] = Map(
      "input_source" -> (""""input_source":"/in2"""", "/in2", base.copy(inputSource = "/in2")),
      "output_directory" -> (""""output_directory":"/out2"""", "/out2", base.copy(outputDirectory = "/out2")),
      "s3_location" -> (""""s3_location":"s3://b/x"""", "s3://b/x", base.copy(s3Location = Some("s3://b/x"))),
      "single_tile_upload" -> (""""single_tile_upload":true""", "true", base.copy(singleTileUpload = true)),
      "shard_size" -> (""""shard_size":[64,32,16]""", "64,32,16", conv(d.copy(shard = Shape3(64, 32, 16)))),
      "chunk_size" -> (""""chunk_size":[8,16,32]""", "8,16,32", conv(d.copy(chunk = Shape3(8, 16, 32)))),
      "scale_factor" -> (""""scale_factor":[1,2,3]""", "1,2,3", conv(d.copy(scaleFactor = Shape3(1, 2, 3)))),
      "downsample_levels" -> (""""downsample_levels":3""", "3", conv(d.copy(computeLevels = 3))),
      "downsample_mode" -> (""""downsample_mode":"max"""", "max", conv(d.copy(downsampleMode = "max"))),
      "translate_imaris_pyramid" -> (""""translate_imaris_pyramid":false""", "false",
        conv(d.copy(translatePyramid = false))),
      "partition_mode" -> (""""partition_mode":"file"""", "file", conv(d.copy(partitionMode = "file"))),
      "zstd_level" -> (""""zstd_level":7""", "7", conv(d.copy(zstdLevel = 7))),
      "codec" -> (""""codec":"gzip"""", "gzip", conv(d.copy(codecName = "gzip"))),
      "zarr_format" -> (""""zarr_format":2""", "2", conv(d.copy(zarrFormat = 2))),
      "blosc_cname" -> (""""compressor_kwargs":{"cname":"lz4"}""", "lz4", conv(d.copy(bloscCname = "lz4"))),
      "blosc_shuffle" -> (""""compressor_kwargs":{"shuffle":"bitshuffle"}""", "bitshuffle",
        conv(d.copy(bloscShuffle = Blosc.BITSHUFFLE))),
      "dimension_separator" -> (""""dimension_separator":"/"""", "/", conv(d.copy(v2Separator = "/"))))
    assert(cases.keySet == JobSettings.Keys.map(_.name).toSet)
    // the flags the job has always taken; scale_factor has none
    assert(JobSettings.Keys.flatMap(_.flag).sorted == Seq("--blosc-cname", "--blosc-shuffle",
      "--chunk", "--codec", "--input", "--levels", "--mode", "--no-translate", "--output",
      "--partition-mode", "--s3-location", "--shard", "--single-tile", "--v2-separator",
      "--zarr-format", "--zstd-level"))
    JobSettings.Keys.foreach { k =>
      val (field, text, want) = cases(k.name)
      val required = Seq("input_source" -> "/in", "output_directory" -> "/out").filter(_._1 != k.name)
      val json = (required.map { case (n, v) => s""""$n":"$v"""" } :+ field).mkString("{", ",", "}")
      assert(ImsToZarrJob.resolveSettings(Array("--job-settings", json), Map.empty, conf) == want, json)
      val env = Map("GRAFT_JOB_INPUT_SOURCE" -> "/in", "GRAFT_JOB_OUTPUT_DIRECTORY" -> "/out", k.env -> text)
      assert(ImsToZarrJob.resolveSettings(Array.empty, env, conf) == want, k.env)
      k.flag.foreach { f =>
        val args = Array("--input", "/in", "--output", "/out", f) ++
          (if (k.switchValue.isDefined) Nil else Seq(text))
        assert(ImsToZarrJob.resolveSettings(args, Map.empty, conf) == want, args.mkString(" "))
      }
    }
  }

  test("blosc keys are JSON-only inside compressor_kwargs; an unknown flag lists the flags") {
    intercept[IllegalArgumentException](JobSettings.fromJson(
      """{"input_source":"/in","output_directory":"/out","blosc_cname":"lz4"}"""))
    val e = intercept[IllegalArgumentException](
      ImsToZarrJob.resolveSettings(Array("--input", "/in", "--bogus"), Map.empty, conf))
    assert(e.getMessage.contains("unknown arg: --bogus") && e.getMessage.contains("--v2-separator"))
  }
}
