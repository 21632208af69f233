"""Key pushdown into merge-on-read scans: a point lookup on a table holding
delta layers must read only files/rows that can hold the requested keys,
not the whole bucket.

Soundness argument under test: a row's merge key never changes across
layers, so restricting every layer to key ∈ S before the newest-gen-wins
cascade yields exactly the full resolution restricted to S. File-level
pruning uses the manifest zone maps on the key column; the proof that a
pruned file is truly never opened is behavioral — the test corrupts it on
disk and the lookup still succeeds."""

from __future__ import annotations

import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from datax_spark.cdc.engine import CdcEngine, EngineConfig  # noqa: E402
from datax_spark.cdc.generator import ChangeFeedSpec, generate_change_feed  # noqa: E402
from datax_spark.cdc.schema import TRANSCRIPTS_SCHEMA_V1  # noqa: E402
from datax_spark.lake.table import LakeTable  # noqa: E402

TS = dt.datetime(2025, 1, 1)


def _mk(spark, tmp_path, n_buckets=1):
    return LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA_V1,
        bucket_key="conv_id", n_buckets=n_buckets,
    )


def _rows(spark, convs, text="x"):
    return spark.createDataFrame(
        [(c, 0, "user", f"{text}-{c}", TS) for c in convs],
        TRANSCRIPTS_SCHEMA_V1,
    )


def _cdc(t, df, **kw):
    src = (df.withColumn("op", F.lit(kw.pop("op", "U")))
             .withColumn("seq", F.lit(kw.pop("seq", 1)).cast("long")))
    return t.apply_cdc(src, key_cols=["conv_id", "turn_idx"], **kw)


def test_lookup_under_mor_matches_full_merge(spark, tmp_path):
    """lookup == read().filter over a delta-layered table, incl. updated and
    deleted keys (end-to-end via the engine so layers are realistic)."""
    feed = str(tmp_path / "feed")
    generate_change_feed(spark, feed, ChangeFeedSpec(
        seed=5, n_convs=80, n_epochs=5, update_rate=0.7, delete_prob=0.2))
    root = str(tmp_path / "table")
    LakeTable.create(spark, root, TRANSCRIPTS_SCHEMA_V1,
                     bucket_key="conv_id", n_buckets=8)
    eng = CdcEngine(spark, EngineConfig(
        table_root=root, feed_dir=feed,
        checkpoint_dir=str(tmp_path / "ckpt"),
        write_mode="mor", compact_threshold=100))  # never compacts
    eng.run()
    t = eng.table
    assert t.snapshot().has_deltas()
    all_rows = t.read().collect()
    keys = sorted({r["conv_id"] for r in all_rows})[:7] + ["conv-absent"]
    want = sorted(
        (r["conv_id"], r["turn_idx"], r["text"]) for r in all_rows
        if r["conv_id"] in keys
    )
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in t.lookup(keys).collect()
    )
    assert got == want and len(got) > 0


def test_pruned_delta_file_is_never_opened(spark, tmp_path):
    """Disjoint key ranges per layer; corrupting the non-matching delta on
    disk proves the lookup scan skipped it via the manifest zone map."""
    t = _mk(spark, tmp_path, n_buckets=1)
    _cdc(t, _rows(spark, [f"a{i:02d}" for i in range(20)]), seq=1)
    # second apply lands as a DELTA layer (mor) with keys n00..n19 only
    _cdc(t, _rows(spark, [f"n{i:02d}" for i in range(20)], text="y"),
         seq=2)
    snap = t.snapshot()
    deltas = [f for fl in snap.files.values() for f in fl
              if f.get("kind") == "delta"]
    if not deltas:  # layout may have folded; force a true delta via stats API
        t.apply_cdc_stats(
            spark.createDataFrame(
                [(f"n{i:02d}", 0, "user", f"y-n{i:02d}", TS, "U", 2)
                 for i in range(20)],
                "conv_id string, turn_idx int, role string, text string, "
                "ts timestamp, op string, seq long"),
            key_cols=["conv_id", "turn_idx"], write_mode="mor")
        snap = t.snapshot()
        deltas = [f for fl in snap.files.values() for f in fl
                  if f.get("kind") == "delta"]
    assert deltas, "fixture must produce a delta layer"
    # every delta holds only n* keys — zone map [n00, n19]
    for f in deltas:
        assert f["stats"]["conv_id"][0].startswith("n")
        full = os.path.join(str(tmp_path / "t"), f["path"])
        with open(full, "wb") as fh:
            fh.write(b"corrupted")  # any open now raises
    got = t.lookup(["a03", "a17"]).collect()
    assert sorted(r["conv_id"] for r in got) == ["a03", "a17"]
    assert all(r["text"].startswith("x-") for r in got)


def test_lookup_row_filter_correct_across_layer_shadowing(spark, tmp_path):
    """A key updated in a newer delta must resolve to the newest version
    under pushdown (the cascade sees both layers' rows for that key)."""
    t = _mk(spark, tmp_path, n_buckets=1)
    t.apply_cdc_stats(
        spark.createDataFrame(
            [(f"k{i:02d}", 0, "user", f"old-{i}", TS, "I", 1)
             for i in range(30)],
            "conv_id string, turn_idx int, role string, text string, "
            "ts timestamp, op string, seq long"),
        key_cols=["conv_id", "turn_idx"], write_mode="mor")
    t.apply_cdc_stats(
        spark.createDataFrame(
            [("k05", 0, "user", "new-5", TS, "U", 2),
             ("k06", 0, "user", None, TS, "D", 2)],
            "conv_id string, turn_idx int, role string, text string, "
            "ts timestamp, op string, seq long"),
        key_cols=["conv_id", "turn_idx"], write_mode="mor")
    assert t.snapshot().has_deltas()
    got = {r["conv_id"]: r["text"]
           for r in t.lookup(["k05", "k06", "k07"]).collect()}
    assert got == {"k05": "new-5", "k07": "old-7"}  # k06 deleted
