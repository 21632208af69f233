"""Crash-at-every-metadata-write exactly-once sweep.

The reference recovers a failed job by rerunning it from scratch (its
TaskGroupContainer restarts failed task groups; no partial-commit state
survives — core/.../AbstractContainer + dirty-record re-collection). This
engine instead claims CRASH-CONSISTENT exactly-once: a driver crash at ANY
point during a replay must leave state from which a fresh engine resumes to
the exact oracle table — no lost epochs, no double-applied events, no
duplicated quarantine rows.

This test proves the claim exhaustively rather than at hand-picked points:
every driver-side metadata mutation (lake snapshot publish, per-bucket
manifest publish, version-hint write, stage/epoch mkdir, checkpoint commit
manifest, metrics write) is enumerated by a counting LakeFS wrapper, then the
replay is re-run once per mutation index with an injected crash at exactly
that point, followed by a clean-engine recovery and a full-state comparison
against the pure-Python fold oracle (cdc/oracle.py).

Swept paths: the zero-shuffle aligned apply (feed shards == table buckets)
and the fused apply (shards != buckets) — both commit through the same
bucket kernel, but their drivers differ, so each gets its own sweep.
"""

from __future__ import annotations

import json
import os
import shutil

from datax_spark.cdc import engine as engine_mod
from datax_spark.cdc.engine import CdcEngine, EngineConfig
from datax_spark.cdc.generator import ChangeFeedSpec, generate_change_feed
from datax_spark.cdc.oracle import fold_feed
from datax_spark.cdc.schema import TRANSCRIPTS_SCHEMA_V1
from datax_spark.lake.fs import LocalFS
from datax_spark.lake.objectstore import LocalEmulatedObjectStore, ObjectFS
from datax_spark.lake.table import LakeTable


class InjectedCrash(Exception):
    pass


class _CrashTick:
    """Counting/injection mixin: raises InjectedCrash once ``budget``
    mutations have happened. budget=None only counts (the dry run that
    sizes the sweep)."""

    def _init_tick(self, budget: int | None) -> None:
        self.mutations = 0
        self.budget = budget
        self.ops: list[str] = []

    def _tick(self, kind: str, path: str) -> None:
        self.mutations += 1
        self.ops.append(f"{kind}:{os.path.basename(path)}")
        if self.budget is not None and self.mutations > self.budget:
            raise InjectedCrash(self.ops[-1])

    def publish_atomic(self, path: str, content: str) -> None:
        self._tick("publish", path)
        super().publish_atomic(path, content)

    def write_text(self, path: str, content: str) -> None:
        self._tick("write", path)
        super().write_text(path, content)

    def remove(self, path: str) -> None:
        self._tick("remove", path)
        super().remove(path)

    def makedirs(self, path: str) -> None:
        self._tick("mkdir", path)
        super().makedirs(path)


class CrashFS(_CrashTick, LocalFS):
    def __init__(self, budget: int | None = None):
        self._init_tick(budget)


class CrashObjectFS(_CrashTick, ObjectFS):
    """Same sweep over the object-store backend: metadata publishes become
    conditional PUTs against LocalEmulatedObjectStore (no mkdir/rename —
    makedirs is a prefix no-op, so it never ticks)."""

    def __init__(self, budget: int | None = None):
        ObjectFS.__init__(self, LocalEmulatedObjectStore())
        self._init_tick(budget)


def _feed(spark, tmp_path, shards: int) -> str:
    feed = str(tmp_path / f"feed-{shards}")
    if not os.path.isdir(feed):
        generate_change_feed(
            spark,
            feed,
            ChangeFeedSpec(
                seed=7,
                n_convs=60,
                n_epochs=3,
                dirty_frac=0.08,
                evolve_frac=0.5,
                update_rate=0.4,
                shards_per_epoch=shards,
            ),
        )
    return feed


def _run_once(spark, feed, root, ckpt, fs, monkeypatch, *,
              n_buckets: int, cfg_extra: dict | None = None,
              clean_fs=LocalFS):
    """Create table + engine against ``fs`` (checkpoint manifest writes are
    ticked through the same counter) and replay the feed."""
    orig = engine_mod._atomic_write_json

    def ticked(path, payload):
        fs._tick("ckpt", path)
        orig(path, payload)

    monkeypatch.setattr(engine_mod, "_atomic_write_json", ticked)
    try:
        if not os.path.isdir(os.path.join(root, "_meta")):
            LakeTable.create(spark, root, TRANSCRIPTS_SCHEMA_V1, "conv_id",
                             n_buckets=n_buckets, fs=clean_fs())
        eng = CdcEngine(
            spark,
            EngineConfig(table_root=root, feed_dir=feed, checkpoint_dir=ckpt,
                         **(cfg_extra or {})),
            fs=fs,
        )
        eng.run()
    finally:
        monkeypatch.setattr(engine_mod, "_atomic_write_json", orig)


def _assert_recovered_exactly_once(spark, feed, root, ckpt, clean_fs=LocalFS):
    """Clean-engine recovery, then full-state oracle comparison."""
    eng = CdcEngine(
        spark,
        EngineConfig(table_root=root, feed_dir=feed, checkpoint_dir=ckpt),
        fs=clean_fs(),
    )
    eng.run()

    assert eng.committed_epochs() == eng.feed_epochs()

    got = {
        (r["conv_id"], r["turn_idx"]):
            (r["role"], r["text"], r["tool"], r["ts"].replace(tzinfo=None))
        for r in eng.table.read().collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]):
            (r["role"], r["text"], r["tool"], r["ts"].replace(tzinfo=None))
        for r in fold_feed(feed)
    }
    assert got == want

    # dirty records are exactly-once too: per epoch, the quarantine holds
    # each dirty event once (unique seq) and exactly as many rows as the
    # committed manifest accounts for
    qroot = os.path.join(ckpt, "quarantine")
    for name in sorted(os.listdir(ckpt + "/commits")):
        epoch = int(name[len("epoch-"):-len(".json")])
        with open(os.path.join(ckpt, "commits", name)) as f:
            manifest = json.load(f)
        qdir = os.path.join(qroot, f"epoch={epoch}")
        n_q = 0
        if os.path.isdir(qdir) and any(
                fn.endswith(".parquet") for _d, _s, fns in os.walk(qdir)
                for fn in fns):
            q = spark.read.parquet(qdir)
            n_q = q.count()
            assert q.select("seq").distinct().count() == n_q, (
                f"epoch {epoch}: duplicated quarantine rows")
        assert n_q == manifest["dirty"], (
            f"epoch {epoch}: quarantine rows {n_q} != manifest dirty "
            f"{manifest['dirty']}")


def _sweep(spark, tmp_path, monkeypatch, *, shards: int, n_buckets: int,
           step: int = 1, cfg_extra: dict | None = None,
           fs_cls=CrashFS, clean_fs=LocalFS):
    feed = _feed(spark, tmp_path, shards)

    # dry run sizes the sweep and locks the mutation schedule
    dry = fs_cls(budget=None)
    root0, ckpt0 = str(tmp_path / "dry-table"), str(tmp_path / "dry-ckpt")
    _run_once(spark, feed, root0, ckpt0, dry, monkeypatch,
              n_buckets=n_buckets, cfg_extra=cfg_extra, clean_fs=clean_fs)
    total = dry.mutations
    assert total > 10, f"seam not exercised: only {total} mutations"
    _assert_recovered_exactly_once(spark, feed, root0, ckpt0,
                                   clean_fs=clean_fs)

    failures = []
    for budget in range(1, total + 1, step):
        root = str(tmp_path / f"t{budget}-table")
        ckpt = str(tmp_path / f"t{budget}-ckpt")
        fs = fs_cls(budget=budget)
        try:
            _run_once(spark, feed, root, ckpt, fs, monkeypatch,
                      n_buckets=n_buckets, cfg_extra=cfg_extra,
                      clean_fs=clean_fs)
        except InjectedCrash:
            pass
        try:
            _assert_recovered_exactly_once(spark, feed, root, ckpt,
                                           clean_fs=clean_fs)
        except AssertionError as e:
            failures.append(
                f"crash@{budget} ({fs.ops[-1] if fs.ops else '?'}): {e}")
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    assert not failures, (
        f"{len(failures)}/{total} crash points broke exactly-once:\n"
        + "\n".join(failures[:10]))


def test_crash_sweep_aligned(spark, tmp_path, monkeypatch):
    """Every metadata-write crash point on the zero-shuffle aligned path."""
    _sweep(spark, tmp_path, monkeypatch, shards=8, n_buckets=8)


def test_crash_sweep_fused_generic(spark, tmp_path, monkeypatch):
    """Fused path with shards != buckets (events-only shuffle)."""
    _sweep(spark, tmp_path, monkeypatch, shards=8, n_buckets=4, step=2)


def test_crash_sweep_with_maintenance(spark, tmp_path, monkeypatch):
    """Maintenance mutations swept too: engine-scheduled clustering
    (compact commits after every epoch) and snapshot vacuum (remove()s of
    expired versions) extend the mutation schedule — a crash inside either
    must never lose or duplicate applied state."""
    _sweep(spark, tmp_path, monkeypatch, shards=8, n_buckets=8, step=2,
           cfg_extra={"cluster_every": 1, "vacuum_keep_last": 2})


def test_crash_sweep_objectstore_backend(spark, tmp_path, monkeypatch):
    """Same sweep with table metadata on the emulated OBJECT STORE: every
    publish is a conditional PUT (If-None-Match), there are no directories
    or renames, and recovery reads back through prefix LISTs — the commit
    protocol a production S3/GCS deployment relies on."""

    def clean_fs():
        return ObjectFS(LocalEmulatedObjectStore())

    _sweep(spark, tmp_path, monkeypatch, shards=8, n_buckets=8, step=2,
           fs_cls=CrashObjectFS, clean_fs=clean_fs)


def test_double_crash_recovery(spark, tmp_path, monkeypatch):
    """Crash, then crash AGAIN during the recovery, then recover clean —
    the recovery path must be as re-enterable as the first run (sampled
    grid: first crash every 9th mutation x second crash at 3 depths)."""
    feed = _feed(spark, tmp_path, shards=8)

    dry = CrashFS(budget=None)
    root0, ckpt0 = str(tmp_path / "dd-table"), str(tmp_path / "dd-ckpt")
    _run_once(spark, feed, root0, ckpt0, dry, monkeypatch, n_buckets=8)
    total = dry.mutations

    failures = []
    for n1 in range(3, total, 9):
        for n2 in (2, 6, 11):
            tag = f"d{n1}-{n2}"
            root = str(tmp_path / f"{tag}-table")
            ckpt = str(tmp_path / f"{tag}-ckpt")
            try:
                _run_once(spark, feed, root, ckpt, CrashFS(budget=n1),
                          monkeypatch, n_buckets=8)
            except InjectedCrash:
                pass
            try:  # recovery attempt that itself crashes
                _run_once(spark, feed, root, ckpt, CrashFS(budget=n2),
                          monkeypatch, n_buckets=8)
            except InjectedCrash:
                pass
            except FileExistsError:
                failures.append(f"{tag}: recovery hit unhandled "
                                "FileExistsError")
            try:
                _assert_recovered_exactly_once(spark, feed, root, ckpt)
            except AssertionError as e:
                failures.append(f"{tag}: {e}")
            shutil.rmtree(root, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)
    assert not failures, "\n".join(failures[:10])
