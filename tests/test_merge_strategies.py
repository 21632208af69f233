"""Engine replay through the bucket kernel must reproduce the pure-Python
fold oracle (cdc/oracle.py), and a bucket whose keys are all deleted must
end with no files."""

import pytest
from pyspark.sql import functions as F

from datax_spark.cdc.engine import CdcEngine, EngineConfig
from datax_spark.cdc.generator import ChangeFeedSpec, generate_change_feed
from datax_spark.cdc.oracle import fold_feed
from datax_spark.cdc.schema import TRANSCRIPTS_SCHEMA_V1
from datax_spark.lake.table import LakeTable


def test_strategies_equivalent_and_match_oracle(spark, tmp_path):
    """One replay (fused route: 8 buckets, default 32 feed shards) with
    deletes, resurrections and dirty events, row for row against the
    oracle."""
    feed = str(tmp_path / "feed")
    spec = ChangeFeedSpec(seed=99, n_convs=150, n_epochs=3, update_rate=0.8,
                          delete_prob=0.15, resurrect_prob=0.4, dirty_frac=0.01)
    generate_change_feed(spark, feed, spec)

    root = str(tmp_path / "table")
    LakeTable.create(spark, root, TRANSCRIPTS_SCHEMA_V1, bucket_key="conv_id", n_buckets=8)
    engine = CdcEngine(
        spark,
        EngineConfig(table_root=root, feed_dir=feed,
                     checkpoint_dir=str(tmp_path / "ckpt")),
    )
    engine.run()
    got = [
        tuple(r)
        for r in engine.table.read()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]
    assert len(got) > 0

    expect = fold_feed(feed)
    assert len(got) == len(expect)
    for g, exp in zip(got, expect):
        assert g[0] == exp["conv_id"] and g[1] == exp["turn_idx"]
        assert g[3] == exp["text"]
        assert g[4] == exp["tool"]


def test_colocated_delete_all_rows_in_bucket(spark, tmp_path):
    """A bucket whose keys are all deleted ends with no files."""
    root = str(tmp_path / "t2")
    t = LakeTable.create(spark, root, TRANSCRIPTS_SCHEMA_V1, bucket_key="conv_id", n_buckets=2)
    base = spark.createDataFrame(
        [("a", 0, "user", "hi", None), ("b", 0, "user", "yo", None)],
        "conv_id string, turn_idx int, role string, text string, ts timestamp",
    )
    t.append(base)
    deletes = base.select(
        "conv_id", "turn_idx", "role", "text", "ts",
        F.lit("D").alias("op"), F.lit(1).cast("long").alias("seq"),
    )
    t.apply_cdc(deletes, key_cols=["conv_id", "turn_idx"])
    assert t.read().count() == 0
    assert not any(t.snapshot().files.values())


@pytest.mark.parametrize("knob", [{"merge_salts": 8}, {"merge_strategy": "shuffle"}])
def test_removed_merge_knobs_are_rejected(knob):
    """Route-selection knobs no longer exist: passing one fails loudly
    instead of being silently ignored."""
    with pytest.raises(TypeError):
        EngineConfig(table_root="t", feed_dir="f", checkpoint_dir="c", **knob)
