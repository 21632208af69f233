"""Partial-update merge mode (Paimon partial-update merge-engine parity):
an upsert patches only its non-null columns, deletes cut the history,
the reserved replace op contributes a full row and cuts older layers.

Covers the shared Arrow fold (property-tested against a brute-force Python
oracle), the MoR path (delta layers + scan-time fold), the copy-on-write
``apply_cdc`` path, compaction, lookup, schema evolution, and changelog
post-images through the forced diff path.

Reference analog: DataX writers overwrite whole rows (replace/update modes,
WriterUtil.java:111-168); partial-update is the column-level sibling a CDC
lake needs when independent upstream systems each own a column subset.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from datax_spark.lake.table import (  # noqa: E402
    LakeTable,
    _partial_fold,
)

SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("a", T.StringType()),
    T.StructField("b", T.LongType()),
    T.StructField("c", T.StringType()),
])
EV_DDL = "id long, a string, b long, c string, seq long, op string"


def _ev(spark, rows):
    return spark.createDataFrame(rows, EV_DDL)


def _mk(spark, tmp_path, name, **kw):
    return LakeTable.create(
        spark, str(tmp_path / name), SCHEMA, bucket_key="id", n_buckets=4,
        merge_mode="partial_update", **kw,
    )


BATCH1 = [(1, "a1", 10, "c1", 1, "I"), (2, "a2", 20, "c2", 1, "I"),
          (3, "a3", 30, "c3", 1, "I"), (4, "a4", 40, "c4", 1, "I")]
BATCH2 = [(1, None, 11, None, 2, "U"),      # patch b only
          (2, None, None, "c2x", 3, "U"),   # patch c only
          (3, None, None, None, 4, "D"),    # delete
          (4, "a4r", None, None, 5, "R")]   # full replace: resets b, c
BATCH3 = [(3, "a3new", None, None, 6, "I"),  # revive after delete
          (1, None, None, "c1x", 7, "U")]
EXPECT = {1: ("a1", 11, "c1x"), 2: ("a2", 20, "c2x"),
          3: ("a3new", None, None), 4: ("a4r", None, None)}


def _state(t):
    return {r["id"]: (r["a"], r["b"], r["c"]) for r in t.read().collect()}


def _apply_all(spark, t, mor=False):
    for batch in (BATCH1, BATCH2, BATCH3):
        if mor:
            # MoR delta layers (compact_threshold high so they persist):
            # exercises the scan-time partial fold across real layers
            t.apply_cdc_stats(_ev(spark, batch), key_cols=["id"],
                              write_mode="mor", compact_threshold=100)
        else:
            t.apply_cdc(_ev(spark, batch), key_cols=["id"])


def test_colocated_patch_delete_replace_revive(spark, tmp_path):
    t = _mk(spark, tmp_path, "t1")
    _apply_all(spark, t, mor=True)
    # the MoR read-time fold: deltas still present
    assert t.snapshot().has_deltas()
    assert _state(t) == EXPECT
    # revive after delete must NOT resurrect pre-delete columns (id=3),
    # replace must reset unmentioned columns (id=4) — both asserted in EXPECT


def test_compact_preserves_partial_state(spark, tmp_path):
    t = _mk(spark, tmp_path, "t2")
    _apply_all(spark, t, mor=True)
    t.compact()
    assert not t.snapshot().has_deltas()
    assert _state(t) == EXPECT


def test_shuffle_strategy_matches_colocated(spark, tmp_path):
    """Copy-on-write apply_cdc (every batch rewrites its buckets' base)."""
    t = _mk(spark, tmp_path, "t3")
    _apply_all(spark, t)
    assert not t.snapshot().has_deltas()
    assert _state(t) == EXPECT


def test_lookup_on_partial_table(spark, tmp_path):
    t = _mk(spark, tmp_path, "t4")
    _apply_all(spark, t, mor=True)
    got = {r["id"]: (r["a"], r["b"], r["c"]) for r in t.lookup([1, 3]).collect()}
    assert got == {1: EXPECT[1], 3: EXPECT[3]}


def test_within_batch_delete_cut(spark, tmp_path):
    """One batch holding U, D, U for the same key: the delete cuts the older
    patch even inside the batch (the fold emits a replace-row delta so older
    LAYERS are cut too)."""
    t = _mk(spark, tmp_path, "t5")
    t.apply_cdc(_ev(spark, [(1, "seed", 1, "seedc", 1, "I")]), key_cols=["id"])
    t.apply_cdc(
        _ev(spark, [(1, "x", None, None, 2, "U"),
                    (1, None, None, None, 3, "D"),
                    (1, None, 99, None, 4, "U")]),
        key_cols=["id"],
    )
    assert _state(t) == {1: (None, 99, None)}


def test_patch_accumulates_across_layers(spark, tmp_path):
    t = _mk(spark, tmp_path, "t6")
    t.apply_cdc(_ev(spark, [(7, "a0", None, None, 1, "U")]), key_cols=["id"])
    t.apply_cdc(_ev(spark, [(7, None, 5, None, 2, "U")]), key_cols=["id"])
    t.apply_cdc(_ev(spark, [(7, None, None, "cc", 3, "U")]), key_cols=["id"])
    assert _state(t) == {7: ("a0", 5, "cc")}


def test_schema_evolution_patch_new_column(spark, tmp_path):
    t = _mk(spark, tmp_path, "t7")
    t.apply_cdc(_ev(spark, [(1, "a1", 10, "c1", 1, "I")]), key_cols=["id"])
    t.add_columns(T.StructType([T.StructField("d", T.StringType())]))
    src = spark.createDataFrame(
        [(1, "dd", 2, "U")], "id long, d string, seq long, op string"
    ).select(
        "id", F.lit(None).cast("string").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.lit(None).cast("string").alias("c"), "d", "seq", "op",
    )
    t.apply_cdc(src, key_cols=["id"])
    [r] = t.read().collect()
    assert (r["a"], r["b"], r["c"], r["d"]) == ("a1", 10, "c1", "dd")


def test_read_changes_emits_post_images(spark, tmp_path):
    """classify_commit must route partial-mode delta commits to the state
    diff: the changelog rows are true post-images, never raw patches."""
    t = _mk(spark, tmp_path, "t8")
    _apply_all(spark, t)
    ch = {r["id"]: r for r in t.read_changes(1, 2).collect()}
    assert ch[1]["_change_type"] == "upsert" and ch[1]["a"] == "a1" \
        and ch[1]["b"] == 11 and ch[1]["c"] == "c1"
    assert ch[2]["c"] == "c2x" and ch[2]["a"] == "a2"
    assert ch[3]["_change_type"] == "delete"
    assert ch[4]["a"] == "a4r" and ch[4]["b"] is None and ch[4]["c"] is None
    ch3 = {r["id"]: r for r in t.read_changes(2, 3).collect()}
    assert set(ch3) == {1, 3}
    assert ch3[1]["c"] == "c1x" and ch3[1]["a"] == "a1"
    assert ch3[3]["a"] == "a3new" and ch3[3]["b"] is None


def test_guards(spark, tmp_path):
    with pytest.raises(ValueError, match="merge_mode"):
        LakeTable.create(spark, str(tmp_path / "bad"), SCHEMA, "id",
                         merge_mode="upsert")
    bad = LakeTable.create(
        spark, str(tmp_path / "t10"), SCHEMA, "id",
        merge_mode="partial_update",
        properties={"merge_delete_op": "R"},
    )
    with pytest.raises(ValueError, match="merge_replace_op"):
        bad.apply_cdc(_ev(spark, BATCH1), key_cols=["id"], delete_op="R")


def test_fold_property_vs_brute_force():
    """The shared Arrow fold kernel against a row-at-a-time Python oracle
    over randomized histories (null keys, all op kinds, random nulls)."""
    import random

    import pyarrow as pa

    def brute(rows):
        from collections import defaultdict

        byk = defaultdict(list)
        for r in rows:
            byk[r[0]].append(r)
        out = {}
        for k, rs in byk.items():
            rs = sorted(rs, key=lambda r: -r[1])
            vals = {"a": None, "b": None}
            live = False
            any_stop = False
            for r in rs:
                _, _o, op, a, b = r
                if op == "D":
                    any_stop = True
                    break
                live = True
                if vals["a"] is None and a is not None:
                    vals["a"] = a
                if vals["b"] is None and b is not None:
                    vals["b"] = b
                if op == "R":
                    any_stop = True
                    break
            out[k] = (
                None if not live
                else (vals["a"], vals["b"], "R" if any_stop else "U", rs[0][1])
            )
        return out

    random.seed(7)
    for trial in range(120):
        n = random.randint(0, 30)
        ords = random.sample(range(500), n)
        rows = [
            (random.choice([None, "k1", "k2", "k3"]), ords[i],
             random.choice(["U", "U", "I", "D", "R"]),
             random.choice([None, random.randint(0, 9)]),
             random.choice([None, "x", "y"]))
            for i in range(n)
        ]
        t = pa.table({
            "k": pa.array([r[0] for r in rows], pa.string()),
            "o": pa.array([r[1] for r in rows], pa.int64()),
            "op": pa.array([r[2] for r in rows], pa.string()),
            "a": pa.array([r[3] for r in rows], pa.int64()),
            "b": pa.array([r[4] for r in rows], pa.string()),
        })
        f = _partial_fold(t, ["k"], "o", "op", "D", "R", ["k", "a", "b"])
        got = {
            r["k"]: (None if r["op"] == "D"
                     else (r["a"], r["b"], r["op"], r["o"]))
            for r in f.to_pylist()
        }
        want = brute(rows)
        assert got == want, (trial, got, want)
