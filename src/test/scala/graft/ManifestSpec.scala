package graft

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Manifest

/** Manifest handling (reference P5–P7) over the FIXTURES.md §2 manifests. */
class ManifestSpec extends AnyFunSuite {
  private val conf = new Configuration()
  private val dir = s"${Fixtures.dir}/manifests"

  test("schema 1.x: voxel resolution re-ordered [X,Y,Z]→[Z,Y,X], no unit conversion") {
    val m = Manifest.readJson(conf, s"$dir/acquisition_v1.json").get
    assert(Manifest.voxelResolution(m).contains((1.0, 0.748, 0.748)))
  }

  test("schema 2.x: nested data_streams path (P6 dispatch)") {
    val m = Manifest.readJson(conf, s"$dir/acquisition_v2.json").get
    assert(Manifest.voxelResolution(m).contains((1.0, 0.748, 0.748)))
  }

  test("tile translation: [X,Y,Z] mm → [Z,Y,X] µm ×1000 (P5)") {
    val m = Manifest.readJson(conf, s"$dir/acquisition_v1.json").get
    assert(Manifest.tileTranslationUm(m, "ims_64.ims").contains((5600.0, 3400.0, 1200.0)))
    assert(Manifest.tileTranslationUm(m, "no_such.ims").isEmpty)
  }

  test("manifest path derivation: parent dir, scheme-aware, None at roots") {
    assert(Manifest.parentManifestPath("/data/tiles")
      .contains("/data/acquisition.json"))
    assert(Manifest.parentManifestPath("/data").contains("/acquisition.json"))
    assert(Manifest.parentManifestPath("s3a://bucket/dir")
      .contains("s3a://bucket/acquisition.json"))
    // a root input has no parent directory — no manifest lookup (the old
    // string surgery turned these into a bogus "/acquisition.json")
    assert(Manifest.parentManifestPath("/").isEmpty)
    assert(Manifest.parentManifestPath("s3a://bucket/").isEmpty)
  }

  test("corrupt and missing manifests degrade to None (S12 tolerant read)") {
    assert(Manifest.readJson(conf, s"$dir/acquisition_corrupt.json").isEmpty)
    assert(Manifest.readJson(conf, s"$dir/nope.json").isEmpty)
    val noTile = Manifest.readJson(conf, s"$dir/acquisition_no_tile.json").get
    assert(Manifest.voxelResolution(noTile).isEmpty)
    assert(Manifest.tileTranslationUm(noTile, "ims_64.ims").isEmpty)
  }

  test("CLI arg parsing (O1)") {
    val a = ImsToZarrJob.resolveSettings(Array(
      "--input", "/in", "--output", "/out", "--shard", "64,64,64",
      "--no-translate", "--levels", "3", "--mode", "median", "--single-tile"),
      Map.empty, conf)
    assert(a.settings.shard == graft.core.Geometry.Shape3(64, 64, 64))
    assert(!a.settings.translatePyramid && a.settings.computeLevels == 3
      && a.settings.downsampleMode == "median" && a.singleTileUpload)
    intercept[RuntimeException] {
      ImsToZarrJob.resolveSettings(Array("--bogus"), Map.empty, conf)
    }
    intercept[IllegalArgumentException] {
      ImsToZarrJob.resolveSettings(Array("--input", "/in"), Map.empty, conf)
    }
  }
}
