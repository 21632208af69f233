"""Hot-key (skew) handling: detection, and hot-key reporting on a skewed
replay that still matches the oracle."""

import os

from pyspark.sql import functions as F

from datax_spark.cdc.engine import CdcEngine, EngineConfig
from datax_spark.cdc.generator import ChangeFeedSpec, generate_change_feed
from datax_spark.cdc.oracle import fold_feed
from datax_spark.cdc.schema import TRANSCRIPTS_SCHEMA_V1
from datax_spark.cdc.skew import detect_hot_keys
from datax_spark.lake.table import LakeTable


def _skewed_batch(spark, n_keys=50, hot_events=5000, cold_events=3):
    """One synthetic epoch where key 0 gets hot_events events, others cold."""
    df = (
        spark.range(n_keys)
        .withColumn("n", F.when(F.col("id") == 0, hot_events).otherwise(cold_events))
        .select(
            F.format_string("conv-%04d", F.col("id")).alias("conv_id"),
            F.explode(F.sequence(F.lit(1), F.col("n"))).alias("v"),
        )
        .select(
            "conv_id",
            F.lit(0).alias("turn_idx"),
            (F.xxhash64("conv_id") + F.col("v")).alias("seq"),
            F.concat(F.lit("t"), F.col("v").cast("string")).alias("text"),
        )
    )
    return df


def test_detect_hot_keys(spark):
    batch = _skewed_batch(spark)
    hot = detect_hot_keys(batch, ["conv_id"], min_count=1000)
    assert [h["conv_id"] for h in hot] == ["conv-0000"]
    assert hot[0]["n"] == 5000


def test_skewed_engine_replay_matches_oracle(spark, tmp_path):
    """Skewed replay on the default route with hot-key manifest reporting
    == oracle fold."""
    feed = str(tmp_path / "feed")
    spec = ChangeFeedSpec(seed=7, n_convs=120, n_epochs=3, update_rate=1.5,
                          hot_exponent=0.9, hot_cap=400)
    generate_change_feed(spark, feed, spec)

    root = str(tmp_path / "table")
    LakeTable.create(spark, root, TRANSCRIPTS_SCHEMA_V1, bucket_key="conv_id", n_buckets=8)
    engine = CdcEngine(
        spark,
        EngineConfig(
            table_root=root,
            feed_dir=feed,
            checkpoint_dir=str(tmp_path / "ckpt"),
            hot_key_min_count=50,
        ),
    )
    engine.run()

    expect = fold_feed(feed)
    got = [
        r.asDict()
        for r in engine.table.read()
        .orderBy("conv_id", "turn_idx", "ts")
        .collect()
    ]
    assert len(got) == len(expect)
    for g, e in zip(got, expect):
        assert g["conv_id"] == e["conv_id"] and g["turn_idx"] == e["turn_idx"]
        assert g["text"] == e["text"]

    # at least one epoch manifest reports the hot keys it saw
    commits = os.path.join(str(tmp_path / "ckpt"), "commits")
    import json

    manifests = [json.load(open(os.path.join(commits, n))) for n in sorted(os.listdir(commits))]
    assert any(m.get("hot_keys") for m in manifests)
