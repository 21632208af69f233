"""Benchmark inputs: change feeds and their reference answers, cached.

Each workload's feed is made by the program's own generator
(``generate_change_feed``) and its reference state by the pure-Python oracle
(``fold_feed``). Both are input preparation, not work a user pays per job, so
they are produced once per (spec, seed, generator+oracle source digest) and
reused by every later run in the same checkout.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import random
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

ROW_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
ROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int64()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.int64()),  # microseconds since the epoch, UTC
])
SAMPLE_KEYS = 64


def source_digest(repo_root: str) -> str:
    """Digest of the generator and oracle sources: a change to either
    invalidates every cached input."""
    h = hashlib.sha256()
    for rel in ("datax_spark/cdc/generator.py", "datax_spark/cdc/oracle.py"):
        with open(os.path.join(repo_root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _normalize(tbl: pa.Table) -> pa.Table:
    """Project to ROW_COLS with one physical type per column, so rows from
    the oracle (tz-aware datetimes) and from Spark (Arrow timestamps) hash
    the same."""
    cols = []
    for name in ROW_COLS:
        col = tbl.column(name) if name in tbl.column_names else pa.nulls(tbl.num_rows, pa.string())
        if name == "ts":
            col = pc.cast(pc.cast(col, pa.timestamp("us", tz="UTC")), pa.int64())
        cols.append(pc.cast(col, ROW_SCHEMA.field(name).type))
    return pa.Table.from_arrays(cols, schema=ROW_SCHEMA)


def row_hashes(tbl: pa.Table) -> np.ndarray:
    df = _normalize(tbl).to_pandas()
    return pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)


def digest_of(tbl: pa.Table) -> str:
    """Order-independent digest of a row set over ROW_COLS: row count plus
    the wrapping sum and the xor of per-row hashes."""
    hs = row_hashes(tbl)
    s = int(hs.sum(dtype=np.uint64)) if len(hs) else 0
    x = int(np.bitwise_xor.reduce(hs)) if len(hs) else 0
    return f"{len(hs)}:{s:016x}:{x:016x}"


def rows_table(rows: list[dict]) -> pa.Table:
    """Oracle rows (list of dicts) as an Arrow table of ROW_COLS."""
    return pa.Table.from_pylist(
        [{c: r.get(c) for c in ROW_COLS} for r in rows],
        schema=pa.schema([
            ("conv_id", pa.string()), ("turn_idx", pa.int64()),
            ("role", pa.string()), ("text", pa.string()),
            ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
        ]),
    )


def _feed_files(feed_dir: str) -> list[str]:
    out = []
    for dirpath, _dirs, fns in os.walk(feed_dir):
        out += [os.path.join(dirpath, f) for f in fns if f.endswith(".parquet")]
    return sorted(out)


def _malformed_count(feed_dir: str) -> int:
    """Events the engine must quarantine: the oracle's validation rule
    (null/empty key, negative turn, unknown op, upsert without text),
    evaluated column-wise."""
    t = ds.dataset(_feed_files(feed_dir), format="parquet").to_table(
        columns=["op", "conv_id", "turn_idx", "text"])
    bad = pc.or_kleene(
        pc.or_kleene(pc.is_null(t["conv_id"]), pc.equal(t["conv_id"], "")),
        pc.or_kleene(pc.is_null(t["turn_idx"]), pc.less(t["turn_idx"], 0)),
    )
    bad = pc.or_kleene(bad, pc.invert(pc.is_in(t["op"], pa.array(["I", "U", "D"]))))
    bad = pc.or_kleene(bad, pc.and_kleene(pc.not_equal(t["op"], "D"), pc.is_null(t["text"])))
    return int(pc.sum(pc.fill_null(bad, True)).as_py() or 0)


def _epoch_keys(feed_dir: str, epoch: int, rng: random.Random) -> list[str]:
    """A seeded sample of the conversation ids an epoch touches."""
    t = ds.dataset(_feed_files(os.path.join(feed_dir, f"epoch={epoch}")),
                   format="parquet").to_table(columns=["conv_id"])
    ids = sorted(set(x for x in t["conv_id"].to_pylist() if x))
    return rng.sample(ids, min(SAMPLE_KEYS, len(ids)))


def _feed_digest(feed_dir: str) -> str:
    h = hashlib.sha256()
    for p in _feed_files(feed_dir):
        h.update(os.path.relpath(p, feed_dir).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def cache_entry(cache_root: str, spec, repo_root: str) -> str:
    """Cache directory of ``spec``'s feed; workloads with equal specs share
    one entry."""
    spec_json = json.dumps(dataclasses.asdict(spec), sort_keys=True)
    key = hashlib.sha256(
        f"{spec_json}|{source_digest(repo_root)}".encode()).hexdigest()[:16]
    return os.path.join(cache_root, f"feed-{spec.seed}-{key}")


def load_cached(entry: str) -> dict | None:
    """The cached feed's facts, or None on a miss.

    They carry ``feed_dir``, the input facts (``events``/``bytes``/
    ``digest``), the oracle digest of the final state, the malformed-event
    count, a key sample per epoch and the oracle digests of a key sample
    (for lookup checks)."""
    meta_path = os.path.join(entry, "meta.json")
    if not os.path.exists(meta_path):
        return None
    with open(meta_path) as f:
        meta = json.load(f)
    meta["feed_dir"] = os.path.join(entry, "feed")  # the checkout may have moved
    return meta


def generate(spark, entry: str, spec) -> None:
    """Generate ``spec``'s feed into ``entry`` and fold its reference."""
    from datax_spark.cdc.generator import generate_change_feed
    from datax_spark.cdc.oracle import fold_feed

    shutil.rmtree(entry, ignore_errors=True)
    feed_dir = os.path.join(entry, "feed")
    stats = generate_change_feed(spark, feed_dir, spec)
    rows = fold_feed(feed_dir)
    rng = random.Random(spec.seed)
    by_conv: dict[str, list[dict]] = {}
    for r in rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    sample = rng.sample(sorted(by_conv), min(SAMPLE_KEYS, len(by_conv)))
    files = _feed_files(feed_dir)
    meta = {
        "spec": dataclasses.asdict(spec),
        "epochs": stats["epochs"],
        "events": int(stats["total_events"]),
        "bytes": sum(os.path.getsize(p) for p in files),
        "digest": _feed_digest(feed_dir),
        "oracle_digest": digest_of(rows_table(rows)),
        "oracle_rows": len(rows),
        "malformed": _malformed_count(feed_dir),
        "epoch_keys": {str(e): _epoch_keys(feed_dir, e, rng) for e in stats["epochs"]},
        "key_sample": {k: digest_of(rows_table(by_conv[k])) for k in sample},
    }
    meta_path = os.path.join(entry, "meta.json")
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)


def epoch_files(feed_dir: str) -> dict[int, list[str]]:
    """Feed parquet files grouped by epoch, each list in a fixed order."""
    out: dict[int, list[str]] = {}
    for d in os.listdir(feed_dir):
        if d.startswith("epoch="):
            out[int(d.split("=", 1)[1])] = _feed_files(os.path.join(feed_dir, d))
    return dict(sorted(out.items()))
