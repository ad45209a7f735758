"""Seeded Imaris tile generator and its independent numpy expectations.

The tile is written with the pure-Python HDF5 ``Writer`` of
``tools/gen_fixtures.py`` (gzip + shuffle, the common Imaris filter chain).
Alongside it, ``expect.json`` carries what the program's outputs must equal,
computed with numpy only:

- per level, per shard: sha256 of the shard's voxels (uint16 LE, C order),
  level 0 from the tile and levels 1.. from a floor-mean 2x2x2 reduction
  whose edge windows are clamped to the data;
- the full-level aggregates and seeded box-query answers over level 0.
"""
import concurrent.futures
import hashlib
import json
import os
import sys
import zlib

import numpy as np

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tools"))
import gen_fixtures as gf  # noqa: E402

# The reference benchmark's conversion config (shard 512^3, chunk 128^3).
SHARD = (512, 512, 512)
CHUNK = (128, 128, 128)
LEVELS = 3
IMS_CHUNK = (64, 128, 128)
BOXES = 400


def voxels(seed, shape):
    """Smooth coarse structure plus 6 bits of per-voxel noise: compresses
    about 2x, like real microscopy tiles; white noise would make inflate
    and zstd unrealistically cheap or expensive."""
    rng = np.random.default_rng(seed)
    z, y, x = shape
    coarse = rng.integers(100, 4000, size=(-(-z // 8), -(-y // 32), -(-x // 32)),
                          dtype=np.uint16)
    base = coarse.repeat(8, 0).repeat(32, 1).repeat(32, 2)[:z, :y, :x]
    return (base + rng.integers(0, 64, size=shape, dtype=np.uint16)).astype("<u2")


def floor_mean2(a):
    """2x2x2 floor mean; an odd edge averages only the voxels it has."""
    total, count = a, np.ones(1, dtype=np.uint32)
    for axis in (2, 1, 0):
        n = total.shape[axis]
        lo = np.take(total, np.arange(0, n, 2), axis=axis).astype(np.uint32)
        hi = np.take(total, np.arange(1, n, 2), axis=axis)
        if n % 2:
            pad = [(0, 0)] * 3
            pad[axis] = (0, 1)
            hi = np.pad(hi, pad)
        total = lo + hi
        c = np.full(-(-n // 2), 2, dtype=np.uint32)
        c[-1] = 2 - n % 2
        count = count * c.reshape([-1 if i == axis else 1 for i in range(3)])
    return (total // count).astype("<u2")


def clamp_spec(shape, chunk, shard):
    """Per-axis chunk = min(chunk, extent); shard = extent-clamped shard
    rounded down to a chunk multiple, at least one chunk."""
    c = tuple(max(1, min(k, n)) for k, n in zip(chunk, shape))
    s = tuple(max(ci, (min(si, n) // ci) * ci) for ci, si, n in zip(c, shard, shape))
    return c, s


def shard_hashes(level, shard):
    out = {}
    for gz in range(-(-level.shape[0] // shard[0])):
        for gy in range(-(-level.shape[1] // shard[1])):
            for gx in range(-(-level.shape[2] // shard[2])):
                blk = level[gz * shard[0]:(gz + 1) * shard[0],
                            gy * shard[1]:(gy + 1) * shard[1],
                            gx * shard[2]:(gx + 1) * shard[2]]
                out[f"{gz}/{gy}/{gx}"] = hashlib.sha256(
                    np.ascontiguousarray(blk).tobytes()).hexdigest()
    return out


def boxes(seed, shape, n):
    """Seeded small boxes (inclusive bounds) that mostly fall inside one
    shard, so the scan prunes the others."""
    rng = np.random.default_rng(seed ^ 0x5EED)
    out = []
    for _ in range(n):
        dz, dy, dx = (min(n, int(rng.integers(lo, hi)))
                      for n, lo, hi in zip(shape, (4, 16, 16), (17, 65, 65)))
        z0 = int(rng.integers(0, shape[0] - dz + 1))
        y0 = int(rng.integers(0, shape[1] - dy + 1))
        x0 = int(rng.integers(0, shape[2] - dx + 1))
        out.append([z0, z0 + dz - 1, y0, y0 + dy - 1, x0, x0 + dx - 1])
    return out


class _PrecompressedZlib:
    """Stands in for ``zlib`` inside gen_fixtures while the Writer lays out
    a dataset: chunks compressed ahead of time on a thread pool (zlib drops
    the GIL) are served by content; anything else compresses inline."""

    def __init__(self, blobs):
        self.blobs = blobs

    def compress(self, data, level):
        hit = self.blobs.get((len(data), zlib.crc32(data)))
        return hit if hit is not None else zlib.compress(data, level)


def _chunk_payloads(data, chunk):
    shape = data.shape
    for cz in range(0, shape[0], chunk[0]):
        for cy in range(0, shape[1], chunk[1]):
            for cx in range(0, shape[2], chunk[2]):
                full = np.zeros(chunk, dtype="<u2")
                sl = data[cz:cz + chunk[0], cy:cy + chunk[1], cx:cx + chunk[2]]
                full[:sl.shape[0], :sl.shape[1], :sl.shape[2]] = sl
                yield gf.shuffle(full.tobytes(), 2)


def write_ims(path, data, chunk=IMS_CHUNK, threads=4):
    def comp(enc):
        return (len(enc), zlib.crc32(enc)), zlib.compress(enc, 6)
    with concurrent.futures.ThreadPoolExecutor(threads) as pool:
        blobs = dict(pool.map(comp, _chunk_payloads(data, chunk)))
    real_zlib = gf.zlib
    gf.zlib = _PrecompressedZlib(blobs)
    try:
        w = gf.Writer()
        ds = w.chunked_dataset(data, chunk, {"gzip", "shuffle"})
    finally:
        gf.zlib = real_zlib
    rl = w.group({"TimePoint 0": w.group({"Channel 0": w.group({"Data": ds})})})
    tz, ty, tx = data.shape
    image = w.group_with_attrs({
        "X": str(tx), "Y": str(ty), "Z": str(tz),
        "ExtMin0": "0.0", "ExtMin1": "0.0", "ExtMin2": "0.0",
        "ExtMax0": str(float(tx)), "ExtMax1": str(float(ty)),
        "ExtMax2": str(float(tz)), "Unit": "um",
    })
    w.finish({"DataSet": w.group({"ResolutionLevel 0": rl}),
              "DataSetInfo": w.group({"Image": image})}, path)


def generate(out_dir, seed, shape):
    """Write ``tile.ims`` and ``expect.json`` under out_dir; returns the
    expectations dict."""
    os.makedirs(out_dir, exist_ok=True)
    l0 = voxels(seed, shape)
    write_ims(os.path.join(out_dir, "tile.ims"), l0)
    levels, level = [], l0
    for i in range(LEVELS):
        if i:
            level = floor_mean2(level)
        chunk, shard = clamp_spec(level.shape, CHUNK, SHARD)
        levels.append({"shape": list(level.shape), "chunk": list(chunk),
                       "shard": list(shard), "shards": shard_hashes(level, shard)})
    rng = np.random.default_rng(seed ^ 0xA66)
    threshold = int(rng.integers(1000, 3000))
    box_list = boxes(seed, shape, BOXES)
    answers = []
    for z0, z1, y0, y1, x0, x1 in box_list:
        b = l0[z0:z1 + 1, y0:y1 + 1, x0:x1 + 1].astype(np.int64)
        answers.append([int(b.size), int(b.sum()), int(b.min()), int(b.max())])
    per_z = l0.reshape(shape[0], -1).astype(np.int64).sum(axis=1)
    exp = {
        "seed": seed, "shape": list(shape),
        "levels": levels,
        "threshold": threshold,
        "count_above": int((l0 > threshold).sum()),
        "z_mean": [float(s) / (shape[1] * shape[2]) for s in per_z],
        "boxes": box_list, "box_answers": answers,
    }
    with open(os.path.join(out_dir, "expect.json"), "w") as fh:
        json.dump(exp, fh)
    return exp


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: tile.py <out_dir> <seed> <z,y,x>")
    generate(sys.argv[1], int(sys.argv[2]), tuple(int(v) for v in sys.argv[3].split(",")))
