"""The three CDC workloads, each a closed loop with one client
(the Spark driver process).

- ``replay_aligned``: ``CdcEngine.run()`` over a key-sharded feed whose
  shard count equals the table's bucket count, so every epoch takes the
  zero-shuffle aligned route (one ``mapInArrow`` kernel job); MoR compaction
  fires inside the replay and the ``tool`` column appears mid-feed.
- ``stream_skewed``: ``StreamingCdcEngine.run_available_now`` over a skewed,
  partly malformed feed with more shards than buckets, so the fused route
  runs with an exchange, quarantine writes and a straggler bucket. Shard
  files carry epoch-ordered modification times and the trigger takes one
  epoch's files, so micro-batch k is exactly feed epoch k on every run.
- ``serve_mixed``: point lookups and full scans beside upserts and one
  compaction, on a MoR table whose buckets carry several delta layers.

Every iteration ends with the correctness checks: the final table's digest
equals the oracle's, lookups return the oracle's rows, and the quarantine
holds exactly the feed's malformed events.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from cdcbench import inputs

# Feed shapes. "toy" is the smoke-test size; "full" is what the benchmark
# measures. 16 shards into 16 buckets is the aligned route; 16 into 12 is not.
# replay_aligned and serve_mixed share one feed spec, so a seed's feed is
# generated once for both. The feed seed is --seed modulo feed_variants
# (see feed_spec); the skewed feed has one variant because its hot-key tail
# makes total events vary by +-17% and the straggler bucket 1.5-3x between
# generator seeds at this size, which would swamp every throughput spread.
SHAPES = {
    "full": {
        "replay_aligned": dict(spec=dict(n_convs=20000, n_epochs=6, shards_per_epoch=16),
                               feed_variants=4, buckets=16, compact_threshold=4,
                               verify_reads=3),
        "stream_skewed": dict(spec=dict(n_convs=8000, n_epochs=6, shards_per_epoch=16,
                                        hot_cap=20000, hot_exponent=1.0, dirty_frac=0.02),
                              feed_variants=1, buckets=12, compact_threshold=8,
                              verify_reads=3),
        "serve_mixed": dict(spec=dict(n_convs=20000, n_epochs=6, shards_per_epoch=16),
                            feed_variants=4, buckets=16, fixture_epochs=3,
                            lookups_per_cycle=2, read_every=2, verify_reads=1),
    },
    "toy": {
        "replay_aligned": dict(spec=dict(n_convs=300, n_epochs=6, shards_per_epoch=4),
                               feed_variants=1, buckets=4, compact_threshold=4,
                               verify_reads=1),
        "stream_skewed": dict(spec=dict(n_convs=300, n_epochs=6, shards_per_epoch=4,
                                        hot_cap=200, hot_exponent=1.0, dirty_frac=0.02),
                              feed_variants=1, buckets=3, compact_threshold=8,
                              verify_reads=1),
        "serve_mixed": dict(spec=dict(n_convs=300, n_epochs=6, shards_per_epoch=4),
                            feed_variants=1, buckets=4, fixture_epochs=3,
                            lookups_per_cycle=2, read_every=2, verify_reads=1),
    },
}

FIXTURE_BUILDS = 3  # set-up is repeated and its median reported
HELD_OFF = 10**6    # compact_threshold that never fires


@dataclass
class Op:
    kind: str          # drain | commit | lookup | read | compact
    start: float
    end: float
    traced: bool
    events: int = 0
    rows: int = 0


@dataclass
class Record:
    """Everything one run measured, in the order it happened."""
    ops: list[Op] = field(default_factory=list)
    iterations: list[tuple[float, float, bool]] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    table_bytes_per_row: float = 0.0
    batch_events: list[list[int]] = field(default_factory=list)
    modes: set[str] = field(default_factory=set)
    manifests: list[list[dict]] = field(default_factory=list)
    # per traced write op: (kind, bytes of data files it created, events)
    written: list[tuple[str, int, int]] = field(default_factory=list)
    # per traced read-path op: (max, mean) delta layers per bucket
    layers: list[tuple[int, float]] = field(default_factory=list)
    phases: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


class Bench:
    """Shared client machinery: timed ops, correctness checks and the
    trace-only probes (data bytes written, delta layers per bucket)."""

    def __init__(self, spark, tracer, workdir: str, meta: dict, shape: dict, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.workdir = workdir
        self.meta = meta
        self.shape = shape
        self.rng = random.Random(seed)
        # full reads and lookups per check (the only reads replay_aligned and
        # stream_skewed make, so their scan and lookup figures are medians)
        self.verify_reads = shape["verify_reads"]
        self.rec = Record()
        self._n = 0
        self.fixture = None
        self.fixture_dir = None
        self.last_dir = None

    # ------------------------------------------------------------ helpers

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        d = os.path.join(self.workdir, f"{tag}-{self._n}")
        os.makedirs(d)
        return d

    def setup_once(self) -> float:
        """Build a fresh fixture (dropping an unused one); returns its
        build time."""
        if self.fixture_dir is not None and self.fixture_dir != self.last_dir:
            shutil.rmtree(self.fixture_dir, ignore_errors=True)
        self.fixture_dir = self.fresh_dir("iter")
        t0 = time.time()
        self.fixture = self.build(self.fixture_dir)
        return time.time() - t0

    def warm_up(self) -> None:
        """One whole iteration on a throwaway fixture, not recorded: the
        JVM and the Python workers reach steady speed only after the whole
        op mix ran once (a partial warm-up left the first measured iteration
        10-30% slower than the ones after it). One read and one lookup
        warm the read path enough."""
        reads, self.verify_reads = self.verify_reads, 1
        self.setup_once()
        self.iteration()
        self.retire_fixture()
        self.verify_reads = reads
        self.rec = Record(attempted=self.rec.attempted, failures=self.rec.failures)

    def retire_fixture(self) -> None:
        """The fixture just iterated on is kept for the re-run check; the
        one before it is dropped."""
        with self.tracer.span("bench.cleanup"):
            if self.last_dir is not None:
                shutil.rmtree(self.last_dir, ignore_errors=True)
        self.last_dir = self.fixture_dir

    def timed(self, kind: str, fn):
        t0 = time.time()
        with self.tracer.span(f"op.{kind}"):
            out = fn()
        self.rec.ops.append(Op(kind, t0, time.time(), self.tracer.on))
        return out

    def engine_config(self, d: str, compact_threshold: int):
        from datax_spark.cdc.engine import EngineConfig

        return EngineConfig(
            table_root=os.path.join(d, "table"), feed_dir=self.meta["feed_dir"],
            checkpoint_dir=os.path.join(d, "ckpt"), compact_threshold=compact_threshold,
        )

    def create_table(self, root: str, n_buckets: int):
        from datax_spark.cdc.schema import TRANSCRIPTS_SCHEMA_V1
        from datax_spark.lake.table import LakeTable

        return LakeTable.create(self.spark, root, TRANSCRIPTS_SCHEMA_V1,
                                bucket_key="conv_id", n_buckets=n_buckets)

    @staticmethod
    def data_files(table_root: str) -> dict[str, int]:
        out = {}
        for p in glob.glob(os.path.join(table_root, "data", "**", "*.parquet"), recursive=True):
            out[p] = os.path.getsize(p)
        return out

    def probe_written(self, kind: str, table_root: str, before: dict, events: int) -> None:
        """Trace only: bytes of data files ``kind`` created."""
        with self.tracer.span("bench.probe"):
            after = self.data_files(table_root)
            new = sum(sz for p, sz in after.items() if p not in before)
            self.rec.written.append((kind, new, events))

    def probe_layers(self, table) -> None:
        """Trace only: delta layers per bucket of the current snapshot."""
        with self.tracer.span("bench.probe"):
            snap = table.snapshot()
            per_bucket = [
                len({f.get("gen", 0) for f in snap.files[b] if f.get("kind") == "delta"})
                for b in snap.files
            ] or [0]
            self.rec.layers.append((max(per_bucket), sum(per_bucket) / len(per_bucket)))

    # ------------------------------------------------------------ client ops

    def read_all(self, table):
        if self.tracer.on:
            self.probe_layers(table)
        tbl = self.timed("read", lambda: table.read().toArrow())
        self.rec.ops[-1].rows = tbl.num_rows
        return tbl

    def lookup(self, table, keys: list[str]):
        if self.tracer.on:
            self.probe_layers(table)
        tbl = self.timed("lookup", lambda: table.lookup(keys).toArrow())
        self.rec.ops[-1].rows = tbl.num_rows
        return tbl

    # ------------------------------------------------------------ checks

    def verify_state(self, table, ckpt_dir: str) -> None:
        """Final table == oracle, sampled lookups == oracle rows, quarantine
        rows == the feed's malformed events; then the table's live bytes per
        live row."""
        for _ in range(self.verify_reads):
            tbl = self.read_all(table)
            with self.tracer.span("bench.check"):
                got = inputs.digest_of(tbl)
                self.rec.check(got == self.meta["oracle_digest"],
                               f"table digest {got} != oracle {self.meta['oracle_digest']}")
        sample = sorted(self.meta["key_sample"])
        for _ in range(self.verify_reads):
            keys = self.rng.sample(sample, min(4, len(sample)))
            rows = self.lookup(table, keys)
            with self.tracer.span("bench.check"):
                want = combine([self.meta["key_sample"][k] for k in keys])
                got = inputs.digest_of(rows)
                self.rec.check(got == want, f"lookup {keys}: {got} != {want}")
        with self.tracer.span("bench.check"):
            q = quarantine_rows(ckpt_dir)
            self.rec.check(q == self.meta["malformed"],
                           f"quarantine rows {q} != malformed events {self.meta['malformed']}")
            snap = table.snapshot()
            live_bytes = sum(
                os.path.getsize(os.path.join(table.root, f["path"]))
                for b in snap.files for f in snap.files[b]
            )
            self.rec.table_bytes_per_row = live_bytes / max(tbl.num_rows, 1)

    def read_manifests(self, ckpt_dir: str) -> list[dict]:
        out = []
        for p in glob.glob(os.path.join(ckpt_dir, "commits", "epoch-*.json")):
            with open(p) as f:
                out.append(json.load(f))
        out.sort(key=lambda m: m["epoch"])
        self.rec.modes |= {m.get("mode", "two-pass") for m in out}
        self.rec.manifests.append(out)
        return out


def combine(digests: list[str]) -> str:
    """Digest of the union of disjoint row sets, from their digests."""
    n, s, x = 0, 0, 0
    for d in digests:
        dn, ds_, dx = d.split(":")
        n += int(dn)
        s = (s + int(ds_, 16)) % (1 << 64)
        x ^= int(dx, 16)
    return f"{n}:{s:016x}:{x:016x}"


def quarantine_rows(ckpt_dir: str) -> int:
    files = glob.glob(os.path.join(ckpt_dir, "quarantine", "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(p).metadata.num_rows for p in files)


# ---------------------------------------------------------------- workloads


class ReplayAligned(Bench):
    def build(self, d: str):
        from datax_spark.cdc.engine import CdcEngine

        cfg = self.engine_config(d, self.shape["compact_threshold"])
        self.create_table(cfg.table_root, self.shape["buckets"])
        return CdcEngine(self.spark, cfg)

    def iteration(self) -> None:
        eng = self.fixture
        before = self.data_files(eng.cfg.table_root) if self.tracer.on else None
        summary = self.timed("drain", eng.run)
        self.rec.ops[-1].events = summary["events_applied"]
        if self.tracer.on:
            self.probe_written("apply", eng.cfg.table_root, before, summary["events_applied"])
        self.read_manifests(eng.cfg.checkpoint_dir)
        self.verify_state(eng.table, eng.cfg.checkpoint_dir)
        self.last = eng

    def rerun_check(self) -> None:
        eng = self.last
        v = eng.table.current_version()
        again = eng.run()
        self.rec.check(again["epochs_applied"] == 0 and eng.table.current_version() == v,
                       f"second run() applied {again['epochs_applied']} epochs")


class StreamSkewed(Bench):
    def stage_feed(self) -> int:
        """Give the feed's files epoch-ordered modification times and return
        the files per epoch, so a trigger of that many files takes exactly
        one epoch."""
        per_epoch = inputs.epoch_files(self.meta["feed_dir"])
        counts = {len(v) for v in per_epoch.values()}
        if len(counts) != 1:
            raise RuntimeError(f"feed epochs hold unequal file counts {sorted(counts)}")
        base = 1_700_000_000
        for e, files in per_epoch.items():
            for j, p in enumerate(files):
                os.utime(p, (base + e * 1000 + j, base + e * 1000 + j))
        return counts.pop()

    def build(self, d: str):
        from datax_spark.streaming.feed import StreamingCdcEngine

        cfg = self.engine_config(d, self.shape["compact_threshold"])
        self.create_table(cfg.table_root, self.shape["buckets"])
        return StreamingCdcEngine(self.spark, cfg, max_files_per_trigger=self.files_per_trigger)

    def warm_up(self) -> None:
        self.files_per_trigger = self.stage_feed()
        super().warm_up()

    def iteration(self) -> None:
        se = self.fixture
        root = se.cfg.table_root
        before = self.data_files(root) if self.tracer.on else None
        out = self.timed("drain", se.run_available_now)
        manifests = self.read_manifests(se.cfg.checkpoint_dir)
        events = sum(m["events"] for m in manifests)
        self.rec.ops[-1].events = events
        if self.tracer.on:
            self.probe_written("apply", root, before, events)
        self.rec.batch_events.append([m["events"] + m["dirty"] for m in manifests])
        n_epochs = len(self.meta["epochs"])
        self.rec.check(len(out["batches"]) == n_epochs,
                       f"{len(out['batches'])} micro-batches for {n_epochs} feed epochs")
        self.verify_state(se.engine.table, se.cfg.checkpoint_dir)
        self.last = se

    def rerun_check(self) -> None:
        from datax_spark.streaming.feed import StreamingCdcEngine

        se = self.last
        v = se.engine.table.current_version()
        again = StreamingCdcEngine(self.spark, se.cfg,
                                   max_files_per_trigger=self.files_per_trigger).run_available_now()
        self.rec.check(not again["batches"] and se.engine.table.current_version() == v,
                       f"second run applied batches {again['batches']}")


class ServeMixed(Bench):
    """One fixture build per round; a round is a fixed seeded op sequence:
    per held-back epoch one upsert, then lookups (half the keys from that
    upsert, half uniform) and every ``read_every`` upserts a full scan; one
    compaction once the first half of the upserts landed. After the last
    upsert the table is checked against the oracle."""

    def build(self, d: str):
        from datax_spark.cdc.engine import CdcEngine

        cfg = self.engine_config(d, HELD_OFF)
        self.create_table(cfg.table_root, self.shape["buckets"])
        eng = CdcEngine(self.spark, cfg)
        eng.run(through_epoch=self.shape["fixture_epochs"] - 1)
        return eng

    def warm_up(self) -> None:
        """Build a fixture, then one of each op on it: a whole round costs
        more than the steadiness it buys here."""
        eng = self.build(self.fresh_dir("warmup"))
        eng.apply_epoch(self.shape["fixture_epochs"])
        eng.table.read().toArrow()
        eng.table.lookup(sorted(self.meta["key_sample"])[:4]).toArrow()
        eng.table.compact()

    def iteration(self) -> None:
        eng = self.fixture
        table = eng.table
        root = eng.cfg.table_root
        held = [e for e in self.meta["epochs"] if e >= self.shape["fixture_epochs"]]
        n_convs = self.meta["spec"]["n_convs"]
        for i, epoch in enumerate(held):
            before = self.data_files(root) if self.tracer.on else None
            m = self.timed("commit", lambda: eng.apply_epoch(epoch))
            self.rec.ops[-1].events = m["events"]
            if self.tracer.on:
                self.probe_written("apply", root, before, m["events"])
            recent = self.meta["epoch_keys"][str(epoch)]
            for _ in range(self.shape["lookups_per_cycle"]):
                keys = self.rng.sample(recent, 2) + [
                    f"conv-{self.rng.randrange(n_convs):08d}" for _ in range(2)]
                rows = self.lookup(table, keys)
                self.rec.check(set(rows.column("conv_id").to_pylist()) <= set(keys),
                               f"lookup {keys} returned other keys")
            if (i + 1) % self.shape["read_every"] == 0:
                self.read_all(table)
            if i == len(held) // 2 - 1:
                before = self.data_files(root) if self.tracer.on else None
                self.timed("compact", table.compact)
                if self.tracer.on:
                    self.probe_written("compact", root, before, 0)
        self.read_manifests(eng.cfg.checkpoint_dir)
        self.verify_state(table, eng.cfg.checkpoint_dir)
        self.last = eng

    def rerun_check(self) -> None:
        eng = self.last
        v = eng.table.current_version()
        again = eng.run()
        self.rec.check(again["epochs_applied"] == 0 and eng.table.current_version() == v,
                       f"second run() applied {again['epochs_applied']} epochs")


WORKLOADS = {
    "replay_aligned": ReplayAligned,
    "stream_skewed": StreamSkewed,
    "serve_mixed": ServeMixed,
}


def feed_spec(name: str, scale: str, seed: int):
    """The workload's feed for ``seed``. A shape's feeds come in
    ``feed_variants`` variants (``seed`` modulo that): generating and folding
    a feed costs more than a measured run, so a checkout generates at most
    that many per shape. The rest of the run (lookup keys, op order) follows
    the full seed."""
    from datax_spark.cdc.generator import ChangeFeedSpec

    shape = SHAPES[scale][name]
    return dataclasses.replace(ChangeFeedSpec(), seed=seed % shape["feed_variants"],
                               **shape["spec"])


def run_workload(b: Bench, seconds: float, trace: bool) -> list[float]:
    """Warm up, build the fixture ``FIXTURE_BUILDS`` times, then run
    iterations, each on a fresh fixture, until ``seconds`` have passed (an
    iteration that started finishes). Every fixture build is a set-up sample.
    The traced run alternates tracing on and off by iteration, so the same
    run yields the tracing overhead; it runs at least two iterations for
    that. Returns the fixture build times."""
    t_start = time.time()
    b.warm_up()
    t1 = time.time()
    builds = [b.setup_once() for _ in range(FIXTURE_BUILDS)]
    t2 = time.time()
    deadline = t2 + seconds
    i = 0
    while time.time() < deadline or (trace and i < 2):
        if i > 0:
            builds.append(b.setup_once())
        b.tracer.on = trace and i % 2 == 0
        t0 = time.time()
        b.iteration()
        b.rec.iterations.append((t0, time.time(), b.tracer.on))
        b.tracer.on = False
        b.retire_fixture()
        i += 1
    t3 = time.time()
    b.rerun_check()
    b.rec.phases.update(warm_up=t1 - t_start, fixture_builds=t2 - t1, window=t3 - t2,
                        rerun_check=time.time() - t3)
    return builds
