package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Geometry.Shape3
import graft.sinks.ZarrV3

class ZarrV3Spec extends AnyFunSuite {

  test("shard encode/decode round-trips voxel-exactly, incl. edge shards") {
    val rnd0 = new scala.util.Random(7)
    val samples = Seq.fill(60)((1L + rnd0.nextInt(40), 1L + rnd0.nextInt(40), 1L + rnd0.nextInt(40))) ++
      Seq((1L, 1L, 1L), (16L, 16L, 16L), (17L, 9L, 1L))
    for ((z, y, x) <- samples) {
      val dataShape = Shape3(z, y, x)
      val shard = Shape3(16, 16, 16)
      val chunk = Shape3(8, 8, 8)
      // dataShape may exceed one shard in this property — clip to shard
      val ds = Shape3(math.min(z, 16), math.min(y, 16), math.min(x, 16))
      val rnd = new scala.util.Random(z * 10000 + y * 100 + x)
      val data = Array.fill(ds.voxels.toInt)(rnd.nextInt(65536).toShort)
      val bytes = ZarrV3.encodeShard(data, ds, shard, chunk)
      val back = ZarrV3.decodeShard(bytes, ds, shard, chunk)
      assert(back.sameElements(data))
    }
  }

  test("corrupted index is rejected by CRC32C") {
    val ds = Shape3(8, 8, 8)
    val data = Array.tabulate(512)(i => i.toShort)
    val bytes = ZarrV3.encodeShard(data, ds, Shape3(8, 8, 8), Shape3(4, 4, 4))
    bytes(bytes.length - 20) = (bytes(bytes.length - 20) ^ 0x01).toByte
    intercept[IllegalArgumentException] {
      ZarrV3.decodeShard(bytes, ds, Shape3(8, 8, 8), Shape3(4, 4, 4))
    }
  }

  test("hostile shard bytes: a truncated file or an entry outside the payload is rejected by name") {
    val ds = Shape3(8, 8, 8)
    val (shard, chunk) = (Shape3(8, 8, 8), Shape3(4, 4, 4))
    val bytes = ZarrV3.encodeShard(Array.tabulate(512)(i => i.toShort), ds, shard, chunk)
    val indexLen = 8 * 16
    val idxStart = bytes.length - indexLen - 4
    val dir = java.nio.file.Files.createTempDirectory("zarrv3hostile").toString
    val conf = new org.apache.hadoop.conf.Configuration()
    val path = s"$dir/${ZarrV3.shardKey(0, 0, 0)}"
    def readByPath(b: Array[Byte]): IllegalArgumentException = {
      ZarrV3.write(conf, path, b)
      intercept[IllegalArgumentException](
        graft.plans.ZarrRegion.read(conf, dir, ds, shard, chunk, 0, 8, 0, 8, 0, 8))
    }
    // shorter than its index (and shorter than the 4-byte CRC alone)
    for (n <- Seq(indexLen + 3, 2)) {
      val e = readByPath(bytes.take(n))
      assert(e.getMessage.contains(path) && e.getMessage.contains("index"), e.getMessage)
      intercept[IllegalArgumentException](ZarrV3.decodeShard(bytes.take(n), ds, shard, chunk))
    }
    // entries pointing past the payload (into the index, past the file,
    // negative) with the index CRC32C recomputed so only the bounds check
    // can catch them
    for ((off, len) <- Seq((idxStart - 2L, 100L), (0L, Int.MaxValue.toLong + 1), (-5L, 10L))) {
      val bad = bytes.clone()
      val bb = java.nio.ByteBuffer.wrap(bad).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putLong(idxStart + 3 * 16, off).putLong(idxStart + 3 * 16 + 8, len)
      val crc = new java.util.zip.CRC32C()
      crc.update(bad, idxStart, indexLen)
      bb.putInt(idxStart + indexLen, crc.getValue.toInt)
      val e = readByPath(bad)
      assert(e.getMessage.contains(path) && e.getMessage.contains("outside the payload"),
        e.getMessage)
    }
  }

  test("all-fill inner chunks are elided as missing entries") {
    val ds = Shape3(16, 16, 16)
    val data = new Array[Short](ds.voxels.toInt) // all zeros = fill
    val bytes = ZarrV3.encodeShard(data, ds, Shape3(16, 16, 16), Shape3(8, 8, 8))
    // data region is non-empty so chunks ARE encoded (zeros != absent) —
    // but a shard whose dataShape covers only part of the logical shard
    // elides the chunks wholly outside the data:
    val part = Shape3(8, 16, 16) // only the first z-half carries data
    val data2 = Array.fill(part.voxels.toInt)(1.toShort)
    val bytes2 = ZarrV3.encodeShard(data2, part, Shape3(16, 16, 16), Shape3(8, 8, 8))
    assert(bytes2.length < bytes.length + 16)
    val back = ZarrV3.decodeShard(bytes2, part, Shape3(16, 16, 16), Shape3(8, 8, 8))
    assert(back.sameElements(data2))
  }

  test("array metadata carries the reference codec chain") {
    val json = ZarrV3.arrayMetadata(
      Seq(1, 1, 64, 128, 128), Seq(1, 1, 32, 32, 32), Seq(1, 1, 16, 16, 16), 3).render
    assert(json.contains(""""zarr_format":3"""))
    assert(json.contains(""""node_type":"array""""))
    assert(json.contains(""""data_type":"uint16""""))
    assert(json.contains(""""name":"sharding_indexed""""))
    assert(json.contains(""""index_location":"end""""))
    assert(json.contains(""""name":"crc32c""""))
    assert(json.contains(""""name":"zstd""""))
    assert(json.contains(""""chunk_shape":[1,1,32,32,32]"""))
  }
}
