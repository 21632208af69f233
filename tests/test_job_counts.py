"""Kernel launches cost exactly one Spark job and one stage.

Bucket kernels are seeded by ``spark.range(0, n, 1, n)`` — row t in partition
t, task t reading its LPT bucket list from the closure — so an aligned epoch,
a key lookup, a merged read and a compaction each run as a single job with a
single stage. A Python-list seed would add its own round of Python tasks and
a shuffle (2-3 jobs per op); these counts make such a regression fail."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark import TaskContext

from datax_spark.cdc.engine import CdcEngine, EngineConfig
from datax_spark.cdc.generator import ChangeFeedSpec, generate_change_feed
from datax_spark.cdc.schema import TRANSCRIPTS_SCHEMA_V1
from datax_spark.lake.table import LakeTable, _assign_buckets_lpt, _task_groups


def _jobs_and_stages(spark, group, fn):
    """Run ``fn`` under a job group; return (its result, #jobs, #stages)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    # job start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
    return out, len(jobs), stages


@pytest.fixture(scope="module")
def mor_engine(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("jobcounts")
    feed = str(tmp / "feed")
    generate_change_feed(spark, feed, ChangeFeedSpec(
        seed=7, n_convs=120, n_epochs=3, update_rate=0.7, delete_prob=0.1,
        shards_per_epoch=16,
    ))
    root = str(tmp / "table")
    LakeTable.create(spark, root, TRANSCRIPTS_SCHEMA_V1, bucket_key="conv_id",
                     n_buckets=16)
    eng = CdcEngine(spark, EngineConfig(
        table_root=root, feed_dir=feed, checkpoint_dir=str(tmp / "ckpt"),
    ))
    eng.run(through_epoch=eng.feed_epochs()[-2])
    return eng


def test_one_job_one_stage_per_kernel_op(spark, mor_engine):
    eng = mor_engine
    last = eng.feed_epochs()[-1]
    manifest, jobs, stages = _jobs_and_stages(
        spark, "dsx-apply", lambda: eng.apply_epoch(last))
    assert manifest["mode"] == "aligned"
    assert (jobs, stages) == (1, 1)

    t = eng.table
    assert t.snapshot().has_deltas()
    keys = sorted({r["conv_id"] for r in t.read().select("conv_id").collect()})[:4]
    got, jobs, stages = _jobs_and_stages(
        spark, "dsx-lookup", lambda: t.lookup(keys).toArrow())
    assert set(got.column("conv_id").to_pylist()) == set(keys)
    assert (jobs, stages) == (1, 1)

    full, jobs, stages = _jobs_and_stages(
        spark, "dsx-read", lambda: t.read().toArrow())
    assert full.num_rows > 0
    assert (jobs, stages) == (1, 1)

    snap, jobs, stages = _jobs_and_stages(spark, "dsx-compact", t.compact)
    assert not snap.has_deltas()
    assert (jobs, stages) == (1, 1)
    assert t.read().toArrow().num_rows == full.num_rows


def test_base_only_read_of_many_files_is_one_job(spark, tmp_path):
    """A base-only scan hands Spark the manifest's explicit file list; past
    Spark's parallel-listing threshold (32 paths by default) that list would
    be stat'ed in a listing job of its own before the scan."""
    t = LakeTable.create(spark, str(tmp_path / "t64"), TRANSCRIPTS_SCHEMA_V1,
                         bucket_key="conv_id", n_buckets=64)
    t.append(spark.range(2000).selectExpr(
        "concat('c', cast(id as string)) as conv_id", "0 as turn_idx",
        "'user' as role", "'hi' as text",
        "cast(null as timestamp) as ts"))
    snap = t.snapshot()
    assert not snap.has_deltas()
    assert sum(len(fl) for fl in snap.files.values()) == 64
    full, jobs, stages = _jobs_and_stages(
        spark, "dsx-read64", lambda: t.read().toArrow())
    assert full.num_rows == 2000
    assert (jobs, stages) == (1, 1)


def test_lpt_groups_cover_each_bucket_once():
    buckets = list(range(37))
    sizes = {b: (b * 7919) % 101 + 1 for b in buckets}
    for n_tasks in (1, 4, 16, 37):
        groups = _task_groups(_assign_buckets_lpt(buckets, sizes, n_tasks), n_tasks)
        assert len(groups) == n_tasks
        assert all(groups)  # no empty task while buckets >= tasks
        assert sorted(b for g in groups for b in g) == buckets


def test_range_seed_row_runs_in_its_partition(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA_V1,
                         bucket_key="conv_id", n_buckets=8)
    buckets = list(range(11))
    sizes = {b: b + 1 for b in buckets}

    def kernel(my):
        pid = TaskContext.get().partitionId()
        yield pa.RecordBatch.from_pydict(
            {"bucket": my, "pid": [pid] * len(my)},
            schema=pa.schema([("bucket", pa.int32()), ("pid", pa.int32())]),
        )

    rows = t._run_bucket_tasks(buckets, sizes, kernel, "bucket int, pid int").collect()
    n_tasks = min(len(buckets), spark.sparkContext.defaultParallelism)
    assign = _assign_buckets_lpt(buckets, sizes, n_tasks)
    assert sorted(r["bucket"] for r in rows) == buckets
    assert {r["bucket"]: r["pid"] for r in rows} == assign  # task t ran in partition t
