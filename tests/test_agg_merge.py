"""Aggregation merge mode (Paimon aggregation merge-engine parity): each
column combines a key's versions with its own function (sum/max/min/last/
first_non_null/last_non_null); deletes and replaces cut the history exactly
as in partial_update (a replace RESTARTS a running sum at its own value).

Covers the shared Arrow fold with agg_spec (property-tested against a
brute-force Python oracle), the MoR path across real delta layers,
layered-vs-flat combinability, compaction, the copy-on-write ``apply_cdc``
path, timestamp max, and create()-time validation.

Reference analog: DataX has no stateful merge at all (writers are
replace/update whole-row, WriterUtil.java:111-168); aggregation merge is
what a CDC lake needs when upstream emits increments (counters, usage
meters) rather than absolute values.
"""

from __future__ import annotations

import datetime
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
    T.StructField("cnt", T.LongType()),      # sum
    T.StructField("hi", T.LongType()),       # max
    T.StructField("lo", T.DoubleType()),     # min
    T.StructField("tag", T.StringType()),    # last_non_null (default)
    T.StructField("note", T.StringType()),   # last (nulls meaningful)
    T.StructField("origin", T.StringType()),  # first_non_null
])
AGG = {"cnt": "sum", "hi": "max", "lo": "min", "note": "last",
       "origin": "first_non_null"}
EV_DDL = ("id long, cnt long, hi long, lo double, tag string, note string, "
          "origin string, seq long, op string")


def _ev(spark, rows):
    return spark.createDataFrame(rows, EV_DDL)


def _mk(spark, tmp_path, name):
    return LakeTable.create(
        spark, str(tmp_path / name), SCHEMA, bucket_key="id", n_buckets=4,
        merge_mode="aggregate", agg_spec=AGG,
    )


BATCH1 = [(1, 1, 5, 2.0, "t1", "n1", "o1", 1, "I"),
          (2, 4, 9, 8.0, "t2", "n2", "o2", 2, "I"),
          (3, 2, 7, 3.0, "t3", "n3", "o3", 3, "I")]
BATCH2 = [(1, 2, 3, 1.0, None, None, "oX", 4, "U"),   # cnt+=2, hi keeps 5,
          # lo drops to 1.0, tag stays, note -> None (last), origin keeps o1
          (2, None, None, None, None, None, None, 5, "D"),
          (3, 10, 1, 9.0, "r", "rn", "ro", 6, "R")]   # replace restarts all
BATCH3 = [(2, 7, 2, 4.0, "t2b", "n2b", "o2b", 7, "I"),  # revive post-delete
          (3, 1, 8, 2.5, None, None, "oZ", 8, "U")]   # adds onto the restart
EXPECT = {
    1: (3, 5, 1.0, "t1", None, "o1"),
    2: (7, 2, 4.0, "t2b", "n2b", "o2b"),     # pre-delete sum 4 NOT included
    3: (11, 8, 2.5, "r", None, "ro"),        # 10 (restart) + 1; note last=None
}


def _state(t):
    return {r["id"]: (r["cnt"], r["hi"], r["lo"], r["tag"], r["note"],
                      r["origin"]) for r in t.read().collect()}


def _apply_all(spark, t, mor=False):
    for batch in (BATCH1, BATCH2, BATCH3):
        if mor:
            t.apply_cdc_stats(_ev(spark, batch), key_cols=["id"],
                              write_mode="mor", compact_threshold=100)
        else:
            t.apply_cdc(_ev(spark, batch), key_cols=["id"])


def test_mor_scan_time_aggregate_fold(spark, tmp_path):
    t = _mk(spark, tmp_path, "t1")
    _apply_all(spark, t, mor=True)
    assert t.snapshot().has_deltas()
    assert _state(t) == EXPECT


def test_compact_preserves_aggregate_state(spark, tmp_path):
    t = _mk(spark, tmp_path, "t2")
    _apply_all(spark, t, mor=True)
    t.compact()
    assert not t.snapshot().has_deltas()
    assert _state(t) == EXPECT


def test_layered_equals_flat(spark, tmp_path):
    """Combinability end-to-end: three MoR epochs (three delta layers, each
    holding a batch-local PARTIAL aggregate) fold to the same state as the
    whole history applied in one batch."""
    t_layers = _mk(spark, tmp_path, "t3a")
    _apply_all(spark, t_layers, mor=True)
    t_flat = _mk(spark, tmp_path, "t3b")
    t_flat.apply_cdc(_ev(spark, BATCH1 + BATCH2 + BATCH3), key_cols=["id"])
    assert _state(t_layers) == _state(t_flat) == EXPECT


def test_shuffle_strategy_matches_colocated(spark, tmp_path):
    """Copy-on-write apply_cdc (every batch rewrites its buckets' base)."""
    t = _mk(spark, tmp_path, "t4")
    _apply_all(spark, t)
    assert not t.snapshot().has_deltas()
    assert _state(t) == EXPECT


def test_lookup_on_aggregate_table(spark, tmp_path):
    t = _mk(spark, tmp_path, "t5")
    _apply_all(spark, t, mor=True)
    got = {r["id"]: (r["cnt"], r["hi"]) for r in t.lookup([1, 3]).collect()}
    assert got == {1: (3, 5), 3: (11, 8)}


def test_timestamp_max(spark, tmp_path):
    sch = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("seen", T.TimestampType()),
    ])
    t = LakeTable.create(spark, str(tmp_path / "ts"), sch, "id", n_buckets=2,
                         merge_mode="aggregate", agg_spec={"seen": "max"})
    d1 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    d2 = datetime.datetime(2026, 3, 1, 12, 0, 0)
    ev = spark.createDataFrame(
        [(1, d2, 1, "I"), (1, d1, 2, "U"), (1, None, 3, "U")],
        "id long, seen timestamp, seq long, op string")
    t.apply_cdc_stats(ev, key_cols=["id"], write_mode="mor",
                      compact_threshold=100)
    [r] = t.read().collect()
    assert r["seen"] == d2  # max survives an older and a null later version


def test_create_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="unknown aggregator"):
        LakeTable.create(spark, str(tmp_path / "b1"), SCHEMA, "id",
                         merge_mode="aggregate", agg_spec={"cnt": "avg"})
    with pytest.raises(ValueError, match="numeric"):
        LakeTable.create(spark, str(tmp_path / "b2"), SCHEMA, "id",
                         merge_mode="aggregate", agg_spec={"tag": "sum"})
    with pytest.raises(ValueError, match="bucket key"):
        LakeTable.create(spark, str(tmp_path / "b3"), SCHEMA, "id",
                         merge_mode="aggregate", agg_spec={"id": "sum"})
    with pytest.raises(ValueError, match="not in schema"):
        LakeTable.create(spark, str(tmp_path / "b4"), SCHEMA, "id",
                         merge_mode="aggregate", agg_spec={"zz": "sum"})
    with pytest.raises(ValueError, match="merge_mode"):
        LakeTable.create(spark, str(tmp_path / "b5"), SCHEMA, "id",
                         agg_spec={"cnt": "sum"})
    dec = T.StructType([T.StructField("id", T.LongType()),
                        T.StructField("amt", T.DecimalType(10, 2))])
    with pytest.raises(ValueError, match="decimal sums are rejected"):
        LakeTable.create(spark, str(tmp_path / "b6"), dec, "id",
                         merge_mode="aggregate", agg_spec={"amt": "sum"})


def test_fold_agg_property_vs_brute_force():
    """The shared Arrow fold with every aggregator against a row-at-a-time
    Python oracle over randomized histories (all op kinds, random nulls)."""
    import random

    import pyarrow as pa

    random.seed(11)
    agg = {"s": "sum", "mx": "max", "mn": "min", "ln": "last_non_null",
           "l": "last", "fn": "first_non_null"}
    cols = list(agg)
    for trial in range(200):
        n = random.randint(0, 40)
        rows = []
        for i in range(n):
            rows.append({
                "id": random.randint(0, 5), "seq": i,
                "op": random.choices(["U", "D", "R"], [0.7, 0.15, 0.15])[0],
                **{c: (None if random.random() < 0.4
                       else random.randint(-5, 5)) for c in cols},
            })
        t = pa.table({
            "id": pa.array([r["id"] for r in rows], pa.int64()),
            **{c: pa.array([r[c] for r in rows], pa.int64()) for c in cols},
            "seq": pa.array([r["seq"] for r in rows], pa.int64()),
            "op": pa.array([r["op"] for r in rows], pa.string()),
        })
        out = _partial_fold(t, ["id"], "seq", "op", "D", "R",
                            ["id"] + cols, agg_spec=agg)
        got = {r["id"]: r for r in out.to_pylist()}
        byk = {}
        for r in rows:
            byk.setdefault(r["id"], []).append(r)
        for k, evs in byk.items():
            evs.sort(key=lambda r: r["seq"])
            cuts = [r["seq"] for r in evs if r["op"] in ("D", "R")]
            cut = max(cuts) if cuts else None
            elig = [r for r in evs
                    if r["op"] != "D" and (cut is None or r["seq"] >= cut)]
            g = got[k]
            if not elig:
                assert g["op"] == "D", (trial, k, g)
                continue
            assert g["op"] == ("R" if cuts else "U"), (trial, k, g)
            for c in cols:
                vv = [r[c] for r in elig if r[c] is not None]
                fn = agg[c]
                exp = (sum(vv) if fn == "sum" else max(vv) if fn == "max"
                       else min(vv) if fn == "min"
                       else vv[-1] if fn == "last_non_null"
                       else vv[0] if fn == "first_non_null"
                       else elig[-1][c]) if (vv or fn == "last") else None
                if fn == "last" and not elig:
                    exp = None
                assert g[c] == exp, (trial, k, c, g[c], exp)
