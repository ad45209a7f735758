"""Output checks, run after the timed sections. Each returns
(attempted, failures) where failures is a list of messages.

Zarr v3 shards are decoded here from the published format (end index of
(offset, nbytes) u64 pairs + CRC32C; zstd chunks through pyarrow), sharing
no code with the program's writer.
"""
import glob
import hashlib
import json
import os
import struct

import numpy as np

_CRC_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC_TABLE.append(_c)


def crc32c(data):
    c = 0xFFFFFFFF
    for b in data:
        c = _CRC_TABLE[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def level_meta(level_dir):
    meta = json.load(open(os.path.join(level_dir, "zarr.json")))
    sharding = meta["codecs"][0]
    if sharding["name"] != "sharding_indexed":
        raise ValueError(f"{level_dir}: not a sharded level")
    names = [c["name"] for c in sharding["configuration"]["codecs"]]
    if names != ["transpose", "bytes", "zstd"]:
        raise ValueError(f"{level_dir}: unexpected codec chain {names}")
    return (meta["shape"][2:], meta["chunk_grid"]["configuration"]["chunk_shape"][2:],
            sharding["configuration"]["chunk_shape"][2:])


def decode_shard(blob, data_shape, shard, chunk):
    """Voxels of one shard file, clipped to data_shape."""
    import pyarrow as pa
    zstd = pa.Codec("zstd")
    grid = [s // c for s, c in zip(shard, chunk)]
    n = grid[0] * grid[1] * grid[2]
    index = blob[-(16 * n + 4):-4]
    if struct.unpack("<I", blob[-4:])[0] != crc32c(index):
        raise ValueError("shard index CRC32C mismatch")
    out = np.zeros(shard, dtype="<u2")
    chunk_bytes = chunk[0] * chunk[1] * chunk[2] * 2
    for i in range(n):
        off, nbytes = struct.unpack_from("<QQ", index, 16 * i)
        if off == 0xFFFFFFFFFFFFFFFF:
            continue
        raw = zstd.decompress(blob[off:off + nbytes], decompressed_size=chunk_bytes, asbytes=True)
        gz, rest = divmod(i, grid[1] * grid[2])
        gy, gx = divmod(rest, grid[2])
        out[gz * chunk[0]:(gz + 1) * chunk[0], gy * chunk[1]:(gy + 1) * chunk[1],
            gx * chunk[2]:(gx + 1) * chunk[2]] = np.frombuffer(raw, dtype="<u2").reshape(chunk)
    return out[:data_shape[0], :data_shape[1], :data_shape[2]]


def check_store(store, expect):
    """Every shard of every level must decode to the numpy expectation."""
    attempted, failures = 0, []
    for lvl, exp in enumerate(expect["levels"]):
        level_dir = os.path.join(store, str(lvl))
        try:
            shape, shard, chunk = level_meta(level_dir)
        except (OSError, ValueError, KeyError) as e:
            attempted += 1
            failures.append(f"level {lvl}: {e}")
            continue
        if [shape, shard, chunk] != [exp["shape"], exp["shard"], exp["chunk"]]:
            attempted += 1
            failures.append(f"level {lvl}: geometry {shape}/{shard}/{chunk} != expected")
            continue
        found = {os.path.relpath(p, os.path.join(level_dir, "c", "0", "0"))
                 for p in glob.glob(os.path.join(level_dir, "c", "0", "0", "*", "*", "*"))}
        for extra in sorted(found - set(exp["shards"])):
            attempted += 1
            failures.append(f"level {lvl}: unexpected shard {extra}")
        for key, digest in sorted(exp["shards"].items()):
            attempted += 1
            g = [int(v) for v in key.split("/")]
            data_shape = [min(s, n - i * s) for s, n, i in zip(shard, shape, g)]
            try:
                with open(os.path.join(level_dir, "c", "0", "0", *key.split("/")), "rb") as fh:
                    vox = decode_shard(fh.read(), data_shape, shard, chunk)
            except Exception as e:  # any unreadable shard is a failed check
                failures.append(f"level {lvl} shard {key}: {e}")
                continue
            if hashlib.sha256(np.ascontiguousarray(vox).tobytes()).hexdigest() != digest:
                failures.append(f"level {lvl} shard {key}: voxels differ from expectation")
    return attempted, failures


def check_scan(outputs, expect):
    """Aggregates and box answers must equal the numpy expectations."""
    attempted, failures = 0, []
    for i, n in enumerate(outputs["counts"]):
        attempted += 1
        if n != expect["count_above"]:
            failures.append(f"count batch {i}: {n} != {expect['count_above']}")
    want = expect["z_mean"]
    for i, rows in enumerate(outputs["z_means"]):
        attempted += 1
        got = sorted(rows)
        if (len(got) != len(want) or any(int(z) != k for k, (z, _) in enumerate(got))
                or any(abs(m - w) > 1e-9 * max(1.0, abs(w)) for (_, m), w in zip(got, want))):
            failures.append(f"groupBy z batch {i}: differs from expectation")
    for idx, *ans in outputs["box_answers"]:
        attempted += 1
        if ans != expect["box_answers"][idx]:
            failures.append(f"box {idx}: {ans} != {expect['box_answers'][idx]}")
    return attempted, failures


def canon(df):
    """Cell rendering of tools/compare_oracle.py: columns by name, raw value
    strings, NULL for missing, dates without a midnight suffix."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if isinstance(v, (list, tuple, np.ndarray)):
            return str(list(v))
        if pd.isna(v):
            return "NULL"
        if isinstance(v, (bool, np.bool_)):
            return str(bool(v))
        s = str(v)
        return s[:-9] if s.endswith(" 00:00:00") else s
    return df.map(cell)


def row_hash(df):
    """Order-insensitive digest of a result's canonical rows."""
    rows = sorted("\x1f".join(r) for r in canon(df).itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(sorted(df.columns)).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest()


def check_queries(outputs, sf_dir, hashes):
    """Queries with a DuckDB twin must match it row for row; the others must
    match their recorded row hash."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    attempted, failures = 0, []
    for name, q in outputs["queries"].items():
        attempted += 1
        try:
            files = sorted(glob.glob(os.path.join(q["dir"], "*.parquet")))
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            if q["oracle"] is None:
                digest = row_hash(got)
                if hashes.get(name) != digest:
                    failures.append(f"{name}: row hash {digest} differs from the recorded "
                                    f"{hashes.get(name)} (perfbench/expected_hashes.json)")
                continue
            a, b = canon(got), canon(con.execute(q["oracle"]).df())
            if list(a.columns) != list(b.columns) or len(a) != len(b) or (a.values != b.values).any():
                failures.append(f"{name}: differs from its DuckDB twin")
        except Exception as e:  # an unreadable result is a failed check
            failures.append(f"{name}: {e}")
    return attempted, failures
