"""Crash/resume + exactly-once semantics (FIXTURES.md §5)."""

from __future__ import annotations

import json
import os

import pytest

from datax_spark.cdc.engine import CdcEngine, EngineConfig
from datax_spark.cdc.generator import ChangeFeedSpec, generate_change_feed
from datax_spark.cdc.oracle import fold_feed
from datax_spark.cdc.schema import TRANSCRIPTS_SCHEMA_V1
from datax_spark.lake.table import LakeTable


def _setup(spark, tmp_path, spec):
    feed = str(tmp_path / "feed")
    generate_change_feed(spark, feed, spec)
    LakeTable.create(spark, str(tmp_path / "table"), TRANSCRIPTS_SCHEMA_V1, "conv_id", n_buckets=8)
    cfg = EngineConfig(
        table_root=str(tmp_path / "table"), feed_dir=feed, checkpoint_dir=str(tmp_path / "ckpt")
    )
    return CdcEngine(spark, cfg)


def _state(engine):
    return [
        (r.conv_id, r.turn_idx, r.text, getattr(r, "tool", None))
        for r in engine.table.read().orderBy("conv_id", "turn_idx", "ts").collect()
    ]


def test_kill_and_resume(spark, tmp_path):
    spec = ChangeFeedSpec(seed=42, n_convs=150, n_epochs=6)
    engine = _setup(spark, tmp_path, spec)
    engine.run(through_epoch=2)  # "kill" after epoch 2
    assert engine.committed_epochs() == [0, 1, 2]
    mid_version = engine.table.current_version()

    # restart: a fresh engine instance resumes from the commit manifests
    engine2 = CdcEngine(spark, engine.cfg)
    summary = engine2.run()
    assert summary["epochs_applied"] == 3  # only the remaining epochs
    want = [
        (r["conv_id"], r["turn_idx"], r["text"], r["tool"]) for r in fold_feed(engine.cfg.feed_dir)
    ]
    assert _state(engine2) == want
    assert engine2.table.current_version() > mid_version


def test_replayed_epoch_is_noop(spark, tmp_path):
    spec = ChangeFeedSpec(seed=9, n_convs=80, n_epochs=3)
    engine = _setup(spark, tmp_path, spec)
    engine.run()
    v = engine.table.current_version()
    m0 = engine.apply_epoch(1)  # replay a committed epoch
    assert engine.table.current_version() == v  # no new snapshot
    assert m0["epoch"] == 1  # manifest returned from the commit log


def test_crash_between_snapshot_and_manifest(spark, tmp_path):
    """Snapshot committed but manifest write crashed → restart emits manifest
    without re-applying data (detected via snapshot engine_epoch property)."""
    spec = ChangeFeedSpec(seed=3, n_convs=60, n_epochs=2)
    engine = _setup(spark, tmp_path, spec)
    engine.run()
    # simulate the crash: delete epoch 1's manifest, keep the table snapshot
    path = os.path.join(engine.commits_dir, "epoch-1.json")
    with open(path) as f:
        original = json.load(f)
    os.unlink(path)
    v = engine.table.current_version()
    engine2 = CdcEngine(spark, engine.cfg)
    summary = engine2.run()
    assert engine2.table.current_version() == v  # data NOT re-applied
    assert summary["epochs_applied"] == 1  # manifest re-emitted for epoch 1
    assert engine2.committed_epochs() == [0, 1]
    # rebuilt from the pending draft: identical but for its own timing
    with open(path) as f:
        recovered = json.load(f)
    timing = ("duration_s", "events_per_sec")
    assert {k: x for k, x in recovered.items() if k not in timing} == {
        k: x for k, x in original.items() if k not in timing}

    # a draft left by another epoch cannot finish epoch 1's manifest
    os.unlink(path)
    with open(engine.pending_path) as f:
        draft = json.load(f)
    with open(engine.pending_path, "w") as f:
        json.dump({**draft, "epoch": 0}, f)
    with pytest.raises(RuntimeError, match="epoch 1"):
        CdcEngine(spark, engine.cfg).run()


def test_manifest_lineage_covers_all_events(spark, tmp_path):
    """Per-partition lineage: commit manifests record applied seq ranges."""
    spec = ChangeFeedSpec(seed=42, n_convs=100, n_epochs=4)
    engine = _setup(spark, tmp_path, spec)
    engine.run()
    total = 0
    seen_max = -1
    for e in engine.committed_epochs():
        with open(os.path.join(engine.commits_dir, f"epoch-{e}.json")) as f:
            m = json.load(f)
        total += m["events"]
        for part in m["partitions"].values():
            assert part["min_seq"] <= part["max_seq"]
            assert part["events"] > 0
        assert m["max_applied_seq"] > seen_max  # monotone watermark
        seen_max = m["max_applied_seq"]
    feed_total = spark.read.option("mergeSchema", "true").parquet(engine.cfg.feed_dir).count()
    assert total == feed_total


def test_second_checkpoint_attach_applies(spark, tmp_path):
    """A SECOND feed+checkpoint attached to an existing table must apply its
    epochs even though they restart at 0 below the table's engine_epoch —
    the crashed-manifest rebuild guard is scoped to the checkpoint that
    wrote the snapshot property (engine_ckpt_id), not to epoch numbers.
    Regression: before the scope, feed2's batches were silently dropped as
    "already applied"."""
    spec1 = ChangeFeedSpec(seed=3, n_convs=60, n_epochs=2)
    engine = _setup(spark, tmp_path, spec1)
    engine.run()
    v1 = engine.table.current_version()
    rows1 = engine.table.read().count()

    feed2 = str(tmp_path / "feed2")
    generate_change_feed(
        spark, feed2, ChangeFeedSpec(seed=11, n_convs=90, n_epochs=2))
    cfg2 = EngineConfig(
        table_root=engine.cfg.table_root, feed_dir=feed2,
        checkpoint_dir=str(tmp_path / "ckpt2"))
    s2 = CdcEngine(spark, cfg2).run()
    assert s2["epochs_applied"] == 2
    t = LakeTable(spark, engine.cfg.table_root)
    assert t.current_version() > v1          # feed2 actually committed
    assert t.read().count() > rows1          # 30 new conversations landed

    # the FIRST checkpoint still resumes as an exactly-once no-op
    s3 = CdcEngine(spark, engine.cfg).run()
    assert s3["epochs_applied"] == 0
    assert LakeTable(spark, engine.cfg.table_root).current_version() == t.current_version()
