"""CdcEngine — checkpointed, exactly-once epoch replay of a change feed.

Re-expresses the reference job lifecycle (Engine → JobContainer → split →
schedule → reader/channel/writer, SURVEY.md §3) as: one *epoch* = one
micro-batch = read change events → validate/quarantine → schema-evolve the
table if events carry new columns → latest-wins MERGE into the lake table
through the Arrow bucket kernel → atomically record a commit manifest.

Exactly-once layering (ports the change-stream reader's per-shard checkpoint
design, otsstreamreader ShardCheckpoint.java:8-75 / RecordProcessor.java:201-235,
onto Spark):
- the lake table commit is ACID (snapshot publish) and carries
  ``engine_epoch`` + ``max_applied_seq`` in snapshot properties;
- just before that commit, once the error limit has passed, the epoch's
  manifest body (mode, per-bucket lineage, dirty reasons, hot keys) is
  drafted to ``<ckpt>/pending.json``;
- a commit manifest ``<ckpt>/commits/epoch-K.json`` is written AFTER the
  snapshot, keyed by (epoch, bucket-partition) with per-partition lineage
  (min/max seq + event count applied);
- on restart: epochs with a manifest are skipped (no-op replay); an epoch whose
  snapshot landed but whose manifest write crashed is detected via the snapshot
  property and its manifest is finished from the pending draft — neither the
  data nor the epoch's quarantine (written by the same kernel job) is touched.
  (The MERGE itself is also idempotent — latest-wins re-apply of the same epoch
  yields an identical table — so correctness never depends on the fast path.)

Error governance: malformed events are quarantined to parquet, counted, and the
job aborts when count/fraction exceed the configured limit — the semantics of
the reference's ErrorRecordChecker.java:18-82 + dirty-record collector.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.cdc import merge as M
from datax_spark.cdc.schema import OP_COL, SEQ_COL
from datax_spark.lake.table import LakeTable


class DirtyLimitExceeded(Exception):
    pass


def _spark_type_for(arrow_type) -> T.DataType:
    """Inverse of lake.table._arrow_schema_for for evolution-detected columns."""
    import pyarrow as pa

    if pa.types.is_string(arrow_type) or pa.types.is_large_string(arrow_type):
        return T.StringType()
    if pa.types.is_int64(arrow_type):
        return T.LongType()
    if pa.types.is_int32(arrow_type):
        return T.IntegerType()
    if pa.types.is_float64(arrow_type):
        return T.DoubleType()
    if pa.types.is_float32(arrow_type):
        return T.FloatType()
    if pa.types.is_boolean(arrow_type):
        return T.BooleanType()
    if pa.types.is_binary(arrow_type) or pa.types.is_large_binary(arrow_type):
        return T.BinaryType()
    if pa.types.is_timestamp(arrow_type):
        return T.TimestampType()
    if pa.types.is_date(arrow_type):
        return T.DateType()
    raise TypeError(f"unsupported evolved column type: {arrow_type}")


@dataclass
class EngineConfig:
    table_root: str
    feed_dir: str
    checkpoint_dir: str
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx")
    seq_col: str = SEQ_COL
    op_col: str = OP_COL
    error_limit_count: int | None = None     # None = unlimited (no abort)
    error_limit_fraction: float | None = None
    # skew governance (datax_spark.cdc.skew): report keys with >= this many
    # events in an epoch into the manifest; None disables the extra pass.
    hot_key_min_count: int | None = None
    # "mor" (default): each epoch lands as per-bucket DELTA files
    # (latest-per-key upserts+deletes, Iceberg-v2-equality-delete style) and
    # buckets compact into a new base every ``compact_threshold`` layers —
    # per-epoch write cost is O(epoch events), not O(table). "cow": classic
    # copy-on-write bucket rewrite every epoch.
    write_mode: str = "mor"
    compact_threshold: int = 8
    # type-widening evolution: when the feed's type for an EXISTING column is
    # a lossless promotion of the table's (int->long, float->double), widen
    # the table metadata-only before the apply (ColumnCast free-cast parity,
    # bounded to Iceberg's promotion lattice). False = fail the epoch instead.
    type_widening: bool = True
    # "auto": use the zero-shuffle aligned apply when the feed's _dsx_feed.json
    # declares conv_id-hash sharding with modulus == the table's bucket count
    # (storage-partitioned-join applied to MERGE). True forces (error if the
    # contract is absent), False always uses the generic shuffle path.
    aligned_feed: bool | str = "auto"
    # expire snapshots older than the last K after each epoch commit (None =
    # keep everything for time travel; long replays should bound disk)
    vacuum_keep_last: int | None = None
    # engine-scheduled CLUSTERING: every N applied epochs run
    # compact(sort_by=cluster_sort_by or key_cols) — the maintenance rewrite
    # that makes keyed point lookups ~2.7x faster (BENCH_LOOKUP: clustered+
    # pushdown 0.40 s vs 0.78 on-path) without a manual jobs/maintain.py run.
    # Rides the epoch loop AFTER the commit, so replay correctness and
    # resume idempotence are untouched (clustering rewrites data layout, not
    # content; re-running it after a crash is safe). None disables.
    cluster_every: int | None = None
    cluster_sort_by: tuple[str, ...] | None = None  # default: key_cols
    cluster_max_rows_per_file: int | None = None    # range-disjoint slices
    metrics: list = field(default_factory=list)


def _atomic_write_json(path: str, payload: dict) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


class CdcEngine:
    def __init__(self, spark: SparkSession, cfg: EngineConfig, fs=None):
        """``fs``: optional LakeFS for the table's metadata (e.g.
        ObjectFS over an object store — lake/objectstore.py); checkpoint
        manifests stay driver-local like Spark's own checkpoint files."""
        self.spark = spark
        self.cfg = cfg
        self.table = LakeTable(spark, cfg.table_root, fs=fs)
        self.commits_dir = os.path.join(cfg.checkpoint_dir, "commits")
        # beside commits/, not in it: every file there is an epoch manifest
        self.pending_path = os.path.join(cfg.checkpoint_dir, "pending.json")
        self.quarantine_dir = os.path.join(cfg.checkpoint_dir, "quarantine")
        os.makedirs(self.commits_dir, exist_ok=True)
        # Stable identity for THIS checkpoint's epoch counter. The snapshot
        # property ``engine_epoch`` is only meaningful relative to the
        # checkpoint that wrote it: a second feed attached to the same table
        # restarts its epochs at 0, and without the identity scope the
        # crashed-manifest rebuild guard would silently drop its batches as
        # "already applied".
        id_path = os.path.join(cfg.checkpoint_dir, "engine_id")
        if os.path.exists(id_path):
            with open(id_path) as f:
                self.engine_id = f.read().strip()
        else:
            self.engine_id = uuid.uuid4().hex
            tmp = f"{id_path}.tmp-{self.engine_id}"
            with open(tmp, "w") as f:
                f.write(self.engine_id)
            os.replace(tmp, id_path)

    # ------------------------------------------------------------- feed access

    def feed_epochs(self) -> list[int]:
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(self.cfg.feed_dir)
            if d.startswith("epoch=")
        )

    def committed_epochs(self) -> list[int]:
        return sorted(
            int(n[len("epoch-"):-len(".json")])
            for n in os.listdir(self.commits_dir)
            if n.startswith("epoch-") and n.endswith(".json")
        )

    def read_epoch(self, epoch: int) -> DataFrame:
        path = os.path.join(self.cfg.feed_dir, f"epoch={epoch}")
        # An upstream DDL means files inside/after an epoch can carry new
        # columns OR widened types; we must read the union schema to detect
        # evolution. Spark's own mergeSchema REFUSES int/bigint unions, so
        # the union (with type promotion) is computed from parquet footers
        # driver-side (~1 ms/file) and passed explicitly — Spark's scan then
        # widens narrow files natively. Partition columns (shard=K dirs)
        # aren't in footers; appended from the first file's partition path.
        import glob as _glob

        files = sorted(
            _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        union = self._union_schema_from_footers(files)
        if union is None:
            return self.spark.read.option("mergeSchema", "true").parquet(path)
        shard_cols = sorted({
            seg.split("=", 1)[0]
            for f in files
            for seg in os.path.relpath(f, path).split(os.sep)[:-1]
            if "=" in seg
        })
        for c in shard_cols:
            if c not in union.fieldNames():
                union = T.StructType(
                    list(union.fields) + [T.StructField(c, T.IntegerType(), True)]
                )
        return self.spark.read.schema(union).option("basePath", path).parquet(path)

    def _union_schema_from_footers(self, files: list[str]) -> T.StructType | None:
        """Union of the files' footer schemas with lossless type promotion
        (int->long, float->double); None when no files or an unmergeable
        conflict is found (caller falls back to Spark's error surface)."""
        import pyarrow.parquet as pq

        from datax_spark.lake.table import is_type_widening

        fields: dict[str, T.StructField] = {}
        for p in files:
            for f in pq.read_schema(p):
                st = _spark_type_for(f.type)
                have = fields.get(f.name)
                if have is None:
                    fields[f.name] = T.StructField(f.name, st, True)
                elif have.dataType != st:
                    if is_type_widening(have.dataType, st):
                        fields[f.name] = T.StructField(f.name, st, True)
                    elif not is_type_widening(st, have.dataType):
                        return None  # genuine conflict: let Spark report it
        return T.StructType(list(fields.values())) if fields else None

    # -------------------------------------------------------- schema evolution

    def _widen(self, widen: dict) -> None:
        if not widen:
            return
        if not self.cfg.type_widening:
            raise ValueError(
                f"feed widened column type(s) {sorted(widen)} but "
                f"type_widening is disabled; enable it or fix the feed"
            )
        self.table.widen_columns(widen, properties={"evolved_by": "cdc-engine"})

    def _evolve_schema(self, batch: DataFrame) -> None:
        """Propagate new event payload columns to the table, and widen
        existing columns the feed promoted (int->long, float->double) —
        DDL before DML, so the apply's type guard never fires mid-epoch."""
        from datax_spark.lake.table import is_type_widening

        snap = self.table.snapshot()
        table_types = {f.name: f.dataType for f in snap.schema.fields}
        meta_cols = {self.cfg.seq_col, self.cfg.op_col, "epoch_hint", "epoch", "shard"}
        new = [
            f for f in batch.schema.fields
            if f.name not in table_types and f.name not in meta_cols
        ]
        widen = {
            f.name: f.dataType for f in batch.schema.fields
            if f.name in table_types
            and is_type_widening(table_types[f.name], f.dataType)
        }
        if new:
            nullable = [T.StructField(f.name, f.dataType, True) for f in new]
            self.table.add_columns(nullable, properties={"evolved_by": "cdc-engine"})
        self._widen(widen)

    def _evolve_schema_from_footers(self, files: list[str]) -> None:
        """Footer-only twin of :meth:`_evolve_schema` for the aligned path."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from datax_spark.lake.table import is_type_widening

        snap = self.table.snapshot()
        table_types = {f.name: f.dataType for f in snap.schema.fields}
        meta_cols = {self.cfg.seq_col, self.cfg.op_col, "epoch_hint", "epoch", "shard"}
        seen: dict[str, pa.DataType] = {}
        widen: dict[str, T.DataType] = {}
        for p in files:
            for f in pq.read_schema(p):
                if f.name in meta_cols:
                    continue
                if f.name not in table_types:
                    seen.setdefault(f.name, f.type)
                    continue
                st = _spark_type_for(f.type)
                # take the widest promotion seen across this epoch's shards
                cur_best = widen.get(f.name, table_types[f.name])
                if is_type_widening(cur_best, st):
                    widen[f.name] = st
        if seen:
            new = [
                T.StructField(name, _spark_type_for(typ), True)
                for name, typ in seen.items()
            ]
            self.table.add_columns(new, properties={"evolved_by": "cdc-engine"})
        self._widen(widen)

    # ----------------------------------------------------------------- metrics

    def _emit(self, metric: dict) -> None:
        self.cfg.metrics.append(metric)
        _atomic_write_json(
            os.path.join(self.cfg.checkpoint_dir, "metrics-latest.json"), metric
        )
        with open(os.path.join(self.cfg.checkpoint_dir, "metrics.jsonl"), "a") as f:
            f.write(json.dumps(metric) + "\n")

    # ------------------------------------------------------------------- apply

    def apply_epoch(self, epoch: int) -> dict:
        done = self._committed_manifest(epoch)
        if done is not None:
            return done
        if self._feed_aligned():
            return self._apply_epoch_aligned(epoch)
        return self.apply_batch(self.read_epoch(epoch), epoch)

    def _manifest_path(self, epoch: int) -> str:
        return os.path.join(self.commits_dir, f"epoch-{epoch}.json")

    def _committed_manifest(self, epoch: int) -> dict | None:
        """Epoch ``epoch``'s commit manifest if the epoch is already applied,
        else None.

        Normally that is ``epoch-K.json`` (exactly-once: replay is a no-op).
        When the snapshot landed but the manifest write crashed, the
        manifest is finished from the draft ``pre_commit`` wrote just before
        that snapshot commit — no feed re-read, no stats job, and the
        epoch's quarantine (written by the same kernel job) is left as is."""
        path = self._manifest_path(epoch)
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        snap = self.table.snapshot()
        if self._applied_epoch(snap) < epoch:
            return None
        t0 = time.time()
        with open(self.pending_path) as f:
            draft = json.load(f)
        if draft.get("epoch") != epoch:
            raise RuntimeError(
                f"epoch {epoch}: snapshot v{snap.version} holds it but its "
                f"pending manifest belongs to epoch {draft.get('epoch')}"
            )
        return self._emit_epoch_manifest(draft, snap.version, time.time() - t0)

    def _reset_quarantine(self, epoch: int) -> None:
        """Drop epoch-``epoch``'s quarantine dir before (re-)applying it.

        Quarantine content is a deterministic function of the epoch's
        events, but the kernel WRITES it append-style (task-side
        ``q-*.parquet`` files). A driver crash between the quarantine write
        and the snapshot commit therefore leaves rows a re-apply would
        duplicate — the exactly-once sweep in tests/test_crash_sweep.py hits
        this at every such point. Only an epoch whose snapshot has NOT
        landed reaches here, so the existing dir always belongs to a crashed
        attempt of this same epoch."""
        qdir = os.path.join(self.quarantine_dir, f"epoch={epoch}")
        if os.path.isdir(qdir):
            shutil.rmtree(qdir)

    def _applied_epoch(self, snap) -> int:
        """Table-side epoch high-water mark, scoped to THIS checkpoint.

        ``engine_epoch`` written by a DIFFERENT checkpoint (another feed
        attached to the same table) says nothing about our progress — treat
        it as -1 so our epochs apply normally; the MERGE stays idempotent
        per (key, seq) regardless."""
        if snap.properties.get("engine_ckpt_id") != self.engine_id:
            return -1
        return int(snap.properties.get("engine_epoch", -1))

    def _feed_aligned(self) -> bool:
        """Feed shards align with table buckets (same key hash + modulus)?"""
        if self.cfg.aligned_feed is False:
            return False
        meta_path = os.path.join(self.cfg.feed_dir, "_dsx_feed.json")
        ok = False
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            snap = self.table.snapshot()
            ok = (
                # raw form = generator feeds (conv_id is string, cast is a
                # no-op); cast form = loghubwriter feeds with a non-string
                # key — both equal the table's bucket fn
                # pmod(xxhash64(cast(conv_id as string)), n)
                meta.get("shard_fn", "").startswith((
                    "pmod(xxhash64(conv_id)",
                    "pmod(xxhash64(cast(conv_id as string))",
                ))
                and int(meta.get("shards_per_epoch", -1)) == snap.n_buckets
                and list(self.cfg.key_cols)[0] == "conv_id"
            )
        if self.cfg.aligned_feed is True and not ok:
            raise ValueError(
                "aligned_feed=True but the feed declares no compatible sharding"
            )
        return ok

    def _epoch_shard_files(self, epoch: int) -> dict[int | None, list[str]]:
        root = os.path.join(self.cfg.feed_dir, f"epoch={epoch}")
        out: dict[int | None, list[str]] = {}
        for d in sorted(os.listdir(root)):
            sub = os.path.join(root, d)
            if not os.path.isdir(sub):
                continue
            if d.startswith("shard="):
                val = d.split("=", 1)[1]
                key = None if val == "__HIVE_DEFAULT_PARTITION__" else int(val)
            else:
                continue
            files = [
                os.path.join(sub, f) for f in sorted(os.listdir(sub))
                if f.endswith(".parquet")
            ]
            if files:
                out.setdefault(key, []).extend(files)
        return out

    def _apply_epoch_aligned(self, epoch: int) -> dict:
        """Zero-shuffle apply: per-bucket tasks read their feed shard files
        directly (LakeTable.apply_cdc_files); validation/quarantine runs in
        Arrow inside the same tasks. One stage, no exchange."""
        t0 = time.time()
        self._reset_quarantine(epoch)
        shard_files = self._epoch_shard_files(epoch)
        # evolution detection needs the epoch's union schema: read parquet
        # footers directly (driver-side, ~1 ms/file) — spinning up a Spark
        # datasource scan for schema inference costs 100x more per epoch
        self._evolve_schema_from_footers(
            [p for fl in shard_files.values() for p in fl]
        )

        hot_keys: list[dict] = []
        if self.cfg.hot_key_min_count is not None:
            from datax_spark.cdc import skew

            batch = self.read_epoch(epoch)
            valid, _ = M.split_valid_dirty(batch)
            hot_keys = skew.detect_hot_keys(
                valid, key_cols=[self.cfg.key_cols[0]],
                min_count=self.cfg.hot_key_min_count,
            )

        new_snap, stats = self.table.apply_cdc_files(
            shard_files,
            key_cols=list(self.cfg.key_cols),
            op_col=self.cfg.op_col,
            seq_col=self.cfg.seq_col,
            arrow_validator=M.make_arrow_validator(self.cfg.op_col),
            quarantine_dir=os.path.join(self.quarantine_dir, f"epoch={epoch}"),
            pre_commit=self._pre_commit(epoch, "aligned", hot_keys),
            write_mode=self.cfg.write_mode,
            compact_threshold=self.cfg.compact_threshold,
        )
        return self._emit_epoch_manifest(
            self._draft(epoch, "aligned", stats, hot_keys), new_snap.version,
            time.time() - t0,
        )

    def apply_batch(self, batch: DataFrame, epoch: int) -> dict:
        """Apply one micro-batch (used by both the epoch loop and the
        Structured Streaming foreachBatch sink — ``epoch`` is the streaming
        batch id there). Idempotent per epoch id.

        Runs the FUSED single-pass route: merge + lineage + quarantine +
        error accounting in one kernel job (one scan of the epoch)."""
        done = self._committed_manifest(epoch)
        if done is not None:
            return done

        self._reset_quarantine(epoch)
        t0 = time.time()
        self._evolve_schema(batch)
        tagged = batch.withColumn("_dsx_dirty_reason", M.dirty_reason_expr())

        hot_keys: list[dict] = []
        if self.cfg.hot_key_min_count is not None:  # optional diagnostic pass
            from datax_spark.cdc import skew

            valid = tagged.filter(F.col("_dsx_dirty_reason").isNull())
            hot_keys = skew.detect_hot_keys(
                valid, key_cols=[self.cfg.key_cols[0]],
                min_count=self.cfg.hot_key_min_count,
            )

        new_snap, stats = self.table.apply_cdc_stats(
            tagged,
            key_cols=list(self.cfg.key_cols),
            op_col=self.cfg.op_col,
            seq_col=self.cfg.seq_col,
            dirty_reason_col="_dsx_dirty_reason",
            quarantine_dir=os.path.join(self.quarantine_dir, f"epoch={epoch}"),
            pre_commit=self._pre_commit(epoch, "fused", hot_keys),
            write_mode=self.cfg.write_mode,
            compact_threshold=self.cfg.compact_threshold,
        )
        return self._emit_epoch_manifest(
            self._draft(epoch, "fused", stats, hot_keys), new_snap.version,
            time.time() - t0,
        )

    @staticmethod
    def _draft(epoch: int, mode: str, stats: dict, hot_keys: list[dict]) -> dict:
        """The epoch manifest minus what only the commit knows (snapshot
        version) and timing."""
        draft = {
            "epoch": epoch,
            "mode": mode,
            "events": stats["events_total"],
            "dirty": stats["dirty_total"],
            "dirty_reasons": stats["dirty"],
            "max_applied_seq": stats["max_applied_seq"],
            "partitions": stats["lineage"],
        }
        if hot_keys:
            draft["hot_keys"] = hot_keys
        return draft

    def _pre_commit(self, epoch: int, mode: str, hot_keys: list[dict]):
        """The kernel's ``pre_commit`` hook: runs after the kernel job and
        BEFORE the snapshot commit. Aborts on the error limit (the table is
        never half-applied), then drafts the manifest to ``pending.json`` so
        a crash after the commit can finish the manifest without re-reading
        the epoch; returns the snapshot properties that mark it applied."""

        def pre_commit(stats: dict) -> dict:
            self._check_error_limit(
                stats["dirty_total"],
                stats["dirty_total"] + stats["events_total"],
                epoch,
            )
            _atomic_write_json(self.pending_path,
                               self._draft(epoch, mode, stats, hot_keys))
            return {
                "engine_epoch": epoch,
                "engine_ckpt_id": self.engine_id,
                "max_applied_seq": stats["max_applied_seq"],
            }

        return pre_commit

    def _emit_epoch_manifest(self, draft: dict, snapshot_version: int,
                             dt: float) -> dict:
        epoch, n_valid = draft["epoch"], draft["events"]
        manifest = {
            **draft,
            "snapshot_version": snapshot_version,
            "duration_s": round(dt, 3),
            "events_per_sec": round(n_valid / dt, 1) if dt > 0 else None,
        }
        _atomic_write_json(self._manifest_path(epoch), manifest)
        if self.cfg.vacuum_keep_last is not None:
            self.table.vacuum(keep_last=self.cfg.vacuum_keep_last)
        self._emit(
            {
                "kind": "epoch_commit",
                "epoch": epoch,
                "mode": draft["mode"],
                "events": n_valid,
                "dirty": draft["dirty"],
                "events_per_sec": manifest["events_per_sec"],
                "duration_s": manifest["duration_s"],
                "max_applied_seq": draft["max_applied_seq"],
            }
        )
        return manifest

    def _check_error_limit(self, dirty: int, total: int, epoch: int) -> None:
        c = self.cfg.error_limit_count
        frac = self.cfg.error_limit_fraction
        if c is not None and dirty > c:
            raise DirtyLimitExceeded(f"epoch {epoch}: {dirty} dirty events > limit {c}")
        if frac is not None and total > 0 and dirty / total > frac:
            raise DirtyLimitExceeded(
                f"epoch {epoch}: dirty fraction {dirty / total:.4f} > limit {frac}"
            )

    # --------------------------------------------------------------------- run

    def run_clustering(self, epoch: int | None = None) -> dict:
        """One scheduled clustering pass: key-sorted compaction rewrite
        (LakeTable.compact(sort_by=...) — Iceberg sort-order rewrite /
        Delta OPTIMIZE ZORDER analog). Emitted as a ``cluster`` metric so
        operators can track rewrite cost against the lookup-latency win."""
        sort_by = list(self.cfg.cluster_sort_by or self.cfg.key_cols)
        t0 = time.time()
        snap = self.table.compact(
            sort_by=sort_by,
            max_rows_per_file=self.cfg.cluster_max_rows_per_file)
        m = {
            "kind": "cluster",
            "epoch": epoch,
            "sort_by": sort_by,
            "duration_s": round(time.time() - t0, 3),
            "snapshot_version": snap.version,
        }
        self._emit(m)
        return m

    def run(self, through_epoch: int | None = None) -> dict:
        """Replay all (or up to ``through_epoch``) uncommitted epochs; resumable."""
        done = set(self.committed_epochs())
        feed = self.feed_epochs()
        t0 = time.time()
        applied = 0
        n_events = 0
        for epoch in feed:
            if through_epoch is not None and epoch > through_epoch:
                break
            if epoch in done:
                continue
            m = self.apply_epoch(epoch)
            applied += 1
            n_events += m["events"]
            if self.cfg.cluster_every and applied % self.cfg.cluster_every == 0:
                self.run_clustering(epoch=epoch)
            self._emit(
                {
                    "kind": "lag",
                    "epoch": epoch,
                    "feed_epochs_remaining": len([e for e in feed if e > epoch]),
                }
            )
        dt = time.time() - t0
        summary = {
            "epochs_applied": applied,
            "events_applied": n_events,
            "duration_s": round(dt, 3),
            "events_per_sec": round(n_events / dt, 1) if dt > 0 and n_events else 0.0,
            "table_version": self.table.current_version(),
        }
        self._emit({"kind": "run_summary", **summary})
        return summary
