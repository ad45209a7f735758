"""Tests of the benchmark's own logic. Run from the checkout root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import struct
import sys
import tempfile
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import checks  # noqa: E402
import stats  # noqa: E402
import tile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


class TailTest(unittest.TestCase):
    def test_leaves_at_least_ten_samples_beyond(self):
        for n in range(11, 300):
            xs = list(range(n))
            value, pct, count = stats.tail(xs)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10, n)
            # the next whole percentile would leave fewer than ten beyond
            nxt = sorted(xs)[max(1, -(-(pct + 1) * n // 100)) - 1]
            self.assertLess(sum(1 for x in xs if x > nxt), 10, n)

    def test_examples(self):
        self.assertEqual(stats.tail(list(range(1, 51))), (40, 80, 50))
        self.assertEqual(stats.tail(list(range(1, 21))), (10, 50, 20))
        self.assertIsNone(stats.tail(list(range(10))))


class MetricNamesTest(unittest.TestCase):
    def test_benchmark_json_names(self):
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in spec[key]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
            self.assertTrue(stats.valid_name(n), n)
        self.assertFalse(stats.valid_name("bad name"))
        self.assertFalse(stats.valid_name("_leading"))
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in spec["end_to_end"]))


class ExpectationTest(unittest.TestCase):
    def test_floor_mean_clamps_odd_edges(self):
        a = tile.voxels(5, (5, 7, 3))
        got = tile.floor_mean2(a)
        self.assertEqual(got.shape, (3, 4, 2))
        for z in range(3):
            for y in range(4):
                for x in range(2):
                    w = a[2 * z:2 * z + 2, 2 * y:2 * y + 2, 2 * x:2 * x + 2].astype(np.int64)
                    self.assertEqual(got[z, y, x], w.sum() // w.size)

    def test_clamp_spec(self):
        # clamp to the extent first, then round down to a chunk multiple
        self.assertEqual(tile.clamp_spec((95, 95, 95), (10, 10, 10), (100, 100, 100)),
                         ((10, 10, 10), (90, 90, 90)))
        self.assertEqual(tile.clamp_spec((64, 1024, 1024), (128, 128, 128), (512, 512, 512)),
                         ((64, 128, 128), (64, 512, 512)))


def encode_shard(vox, shard, chunk):
    """Independent Zarr v3 sharding_indexed encoder (zstd inner chunks)."""
    import pyarrow as pa
    zstd = pa.Codec("zstd")
    body, index = b"", b""
    for gz in range(shard[0] // chunk[0]):
        for gy in range(shard[1] // chunk[1]):
            for gx in range(shard[2] // chunk[2]):
                o = (gz * chunk[0], gy * chunk[1], gx * chunk[2])
                if any(oi >= n for oi, n in zip(o, vox.shape)):
                    index += struct.pack("<QQ", 2**64 - 1, 2**64 - 1)
                    continue
                full = np.zeros(chunk, dtype="<u2")
                part = vox[o[0]:o[0] + chunk[0], o[1]:o[1] + chunk[1], o[2]:o[2] + chunk[2]]
                full[:part.shape[0], :part.shape[1], :part.shape[2]] = part
                comp = zstd.compress(full.tobytes(), asbytes=True)
                index += struct.pack("<QQ", len(body), len(comp))
                body += comp
    return body + index + struct.pack("<I", checks.crc32c(index))


class StoreCheckTest(unittest.TestCase):
    def setUp(self):
        scratch = os.path.join(ROOT, ".bench_work")
        os.makedirs(scratch, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=scratch)
        self.addCleanup(shutil.rmtree, self.dir)
        self.addCleanup(setattr, tile, "SHARD", tile.SHARD)
        self.addCleanup(setattr, tile, "CHUNK", tile.CHUNK)
        tile.CHUNK, tile.SHARD = (4, 8, 8), (4, 16, 16)
        shape = (6, 20, 24)
        self.expect = tile.generate(os.path.join(self.dir, "in"), 3, shape)
        self.store = os.path.join(self.dir, "tile.ome.zarr")
        level = tile.voxels(3, shape)
        for lvl, exp in enumerate(self.expect["levels"]):
            if lvl:
                level = tile.floor_mean2(level)
            ld = os.path.join(self.store, str(lvl))
            os.makedirs(ld)
            json.dump({"shape": [1, 1] + exp["shape"],
                       "chunk_grid": {"configuration": {"chunk_shape": [1, 1] + exp["shard"]}},
                       "codecs": [{"name": "sharding_indexed", "configuration": {
                           "chunk_shape": [1, 1] + exp["chunk"],
                           "codecs": [{"name": "transpose"}, {"name": "bytes"}, {"name": "zstd"}]}}]},
                      open(os.path.join(ld, "zarr.json"), "w"))
            sh = exp["shard"]
            for key in exp["shards"]:
                g = [int(v) for v in key.split("/")]
                vox = level[g[0] * sh[0]:(g[0] + 1) * sh[0], g[1] * sh[1]:(g[1] + 1) * sh[1],
                            g[2] * sh[2]:(g[2] + 1) * sh[2]]
                path = os.path.join(ld, "c", "0", "0", *key.split("/"))
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "wb") as fh:
                    fh.write(encode_shard(vox, sh, exp["chunk"]))

    def shard_path(self):
        return os.path.join(self.store, "0", "c", "0", "0", "0", "1", "0")

    def test_clean_store_passes(self):
        attempted, failures = checks.check_store(self.store, self.expect)
        self.assertEqual(failures, [])
        self.assertEqual(attempted, sum(len(lv["shards"]) for lv in self.expect["levels"]))

    def flip(self, offset):
        """Inverts one byte of a copy of shard 0/1/0 put in its place."""
        path = self.shard_path()
        with open(path, "rb") as fh:
            blob = bytearray(fh.read())
        blob[offset] ^= 0xFF
        os.remove(path)
        with open(path, "wb") as fh:
            fh.write(blob)

    def test_corrupted_payload_fails(self):
        self.flip(9)
        _, failures = checks.check_store(self.store, self.expect)
        self.assertEqual(len(failures), 1)
        self.assertIn("shard 0/1/0", failures[0])

    def test_corrupted_index_fails(self):
        self.flip(-20)
        _, failures = checks.check_store(self.store, self.expect)
        self.assertEqual(len(failures), 1)
        self.assertIn("CRC32C", failures[0])

    def test_missing_shard_fails(self):
        os.remove(self.shard_path())
        _, failures = checks.check_store(self.store, self.expect)
        self.assertEqual(len(failures), 1)


if __name__ == "__main__":
    unittest.main()
