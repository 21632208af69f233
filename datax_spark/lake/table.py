"""LakeTable — snapshot-committed ACID parquet table with Iceberg semantics.

The target runtime format for the engine is Apache Iceberg (the baked-in Spark
distribution in this sandbox ships no Iceberg runtime jar, so this module
implements the same contract natively — the CDC engine only talks to this
interface, so swapping in ``MERGE INTO`` against a real Iceberg catalog is a
sink-level change).

Semantics provided (mirrors what the reference gets from its two-phase
tmp-dir+rename writer commit, hdfswriter HdfsWriter.java:194-252, upgraded to
real table ACID):

- **Snapshot isolation / atomic commit**: every mutation writes new data files
  then atomically publishes a new versioned snapshot JSON (hard-link create is
  atomic and fails on collision → optimistic concurrency). Readers resolve the
  newest snapshot and read exactly its file list. Old snapshots remain → time
  travel.
- **Bucket partitioning**: rows are hash-bucketed on a key column
  (``bucket(n, conv_id)``), files are grouped per bucket, and MERGE rewrites
  only the buckets the source touches (copy-on-write at partition granularity —
  at 10^10-row scale an epoch that touches 3% of buckets rewrites 3% of data).
- **Keyed MERGE**: insert/update/delete apply equivalent to
  ``MERGE INTO t USING s ON t.k = s.k WHEN MATCHED AND op='D' THEN DELETE
  WHEN MATCHED THEN UPDATE * WHEN NOT MATCHED AND op<>'D' THEN INSERT *``
  (the upsert taxonomy of the reference's keyed writers: otswriter
  PUT/UPDATE/DELETE_ROW, OTSOpType.java:3-8; mysqlwriter ON DUPLICATE KEY
  UPDATE, WriterUtil.java:111-168).
- **Schema evolution without rewrite**: adding a column only updates the
  snapshot schema; old files are read with the evolved schema and yield NULLs
  (Iceberg add-column semantics).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections import OrderedDict
from collections.abc import Mapping
from dataclasses import dataclass
from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.lake.fs import LakeFS, LocalFS

_META = "_meta"
_DATA = "data"
_BUCKET_COL = "_dsx_bucket"
_PID_COL = "_dsx_pid"


def _snapshot_name(version: int) -> str:
    return f"v{version:012d}.json"


def _base_name(version: int) -> str:
    """Side name an EXPIRED version's full manifest list survives under when
    vacuum retains it as a delta snapshot's base. Keeping it at its original
    ``v*.json`` name would leave a hole in the live version sequence (a kept
    base below removed intermediates), which breaks the version-hint
    probe-forward heal ("v exists, v+1 missing => v is latest")."""
    return f"b{version:012d}.json"


# Advisory latest-version hint (Iceberg's version-hint.text analog): lets
# current_version() cost O(1) object reads instead of a paginated LIST over
# a _meta dir that also holds every per-bucket manifest file. Always safe to
# lose, corrupt, or observe stale — readers probe FORWARD from the hint and
# fall back to the full listing, and correctness never depends on it.
_HINT_NAME = "LATEST"


# --------------------------------------------------------------- task steering
#
# Bucket work is packed onto min(defaultParallelism, B) tasks with size-aware
# greedy LPT, so one balanced wave of tasks runs with no collisions and no
# empties (hash placement would put 2-4 buckets on some tasks and none on
# others; over-partitioning trades that for near-empty Python tasks whose
# fixed cost dominates the stage). Two ways reach that placement:
#
# - KERNEL LAUNCHES (apply_cdc_files, compact, merge-on-read scans) need only
#   a task index: row t of ``spark.range(0, n, 1, n)`` sits in partition t, so
#   task t looks up its bucket list ``groups[t]`` in the closure. One job, one
#   stage, no exchange.
# - DATA SHUFFLES (the fused MERGE route, full rewrites) must move rows to
#   their bucket's task: each bucket is tagged with a precomputed "magic"
#   integer whose Murmur3 hash lands on exactly that task's partition under
#   ``repartition(n, col)``.


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """Spark's ``hash()`` for a non-null IntegerType column (Murmur3_x86_32,
    seed 42) — used to invert HashPartitioning driver-side."""
    x &= 0xFFFFFFFF
    k1 = (x * 0xCC9E2D51) & 0xFFFFFFFF
    k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
    k1 = (k1 * 0x1B873593) & 0xFFFFFFFF
    h1 = (seed ^ k1) & 0xFFFFFFFF
    h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
    h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= 4  # fmix, input length 4 bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


_MAGIC_CACHE: dict[int, list[int]] = {}


def _partition_magic(n_tasks: int) -> list[int]:
    """magic[t] = smallest int v with pmod(murmur3(v), n_tasks) == t."""
    vals = _MAGIC_CACHE.get(n_tasks)
    if vals is None:
        found: dict[int, int] = {}
        v = 0
        while len(found) < n_tasks:
            p = _murmur3_int32(v) % n_tasks
            if p not in found:
                found[p] = v
            v += 1
        vals = _MAGIC_CACHE[n_tasks] = [found[t] for t in range(n_tasks)]
    return vals


def _assign_buckets_lpt(buckets: list[int], sizes: dict[int, int] | None,
                        n_tasks: int) -> dict[int, int]:
    """bucket -> task via longest-processing-time-first greedy packing."""
    import heapq

    sizes = sizes or {}
    heap = [(0, t) for t in range(n_tasks)]
    heapq.heapify(heap)
    assign: dict[int, int] = {}
    for b in sorted(buckets, key=lambda b: (-sizes.get(b, 1), b)):
        load, t = heapq.heappop(heap)
        assign[b] = t
        heapq.heappush(heap, (load + sizes.get(b, 1), t))
    return assign


def _task_groups(assign: dict[int, int], n_tasks: int) -> list[list[int]]:
    """Invert a bucket -> task assignment into per-task bucket lists."""
    groups: list[list[int]] = [[] for _ in range(n_tasks)]
    for b, t in assign.items():
        groups[t].append(b)
    return groups


def _steer_expr(assign: dict[int, int], magic: list[int]) -> F.Column:
    """Map the bucket column to its task's magic partition-steering value.

    Built as ONE SQL expression string: the obvious
    ``F.create_map(*[F.lit(..) ..])`` form makes 2 py4j round-trips per
    bucket — measured 5.5 s of pure driver→JVM chatter at 4096 buckets,
    dwarfing the epoch's actual work. One ``F.expr`` call parses the whole
    map in milliseconds and keeps the driver cost O(1) in bucket count."""
    entries = ", ".join(f"{b}, {magic[t]}" for b, t in assign.items())
    return F.expr(
        f"CAST(element_at(map({entries}), `{_BUCKET_COL}`) AS INT)"
    )


# one row per written file or quarantine reason, as every MERGE kernel
# (aligned, fused, compaction) reports back to the driver
_ENTRY_STRUCT = T.StructType(
    [T.StructField("bucket", T.IntegerType()), T.StructField("path", T.StringType()),
     T.StructField("rows", T.LongType()), T.StructField("events", T.LongType()),
     T.StructField("min_seq", T.LongType()), T.StructField("max_seq", T.LongType()),
     T.StructField("reason", T.StringType()), T.StructField("kind", T.StringType()),
     T.StructField("stats", T.StringType())]
)


def _arrow_schema_for(schema: T.StructType):
    """Arrow schema matching what mapInArrow exchanges for a Spark schema
    (UTC session timezone — see session.py)."""
    import pyarrow as pa

    def conv(dt):
        if isinstance(dt, T.StringType):
            return pa.string()
        if isinstance(dt, T.LongType):
            return pa.int64()
        if isinstance(dt, T.IntegerType):
            return pa.int32()
        if isinstance(dt, T.ShortType):
            return pa.int16()
        if isinstance(dt, T.ByteType):
            return pa.int8()
        if isinstance(dt, T.DoubleType):
            return pa.float64()
        if isinstance(dt, T.FloatType):
            return pa.float32()
        if isinstance(dt, T.BooleanType):
            return pa.bool_()
        if isinstance(dt, T.BinaryType):
            return pa.binary()
        if isinstance(dt, T.DateType):
            return pa.date32()
        if isinstance(dt, T.TimestampType):
            return pa.timestamp("us", tz="UTC")
        if isinstance(dt, T.DecimalType):
            return pa.decimal128(dt.precision, dt.scale)
        if isinstance(dt, T.ArrayType):
            return pa.list_(conv(dt.elementType))
        if isinstance(dt, T.StructType):
            return pa.struct([pa.field(f.name, conv(f.dataType), True) for f in dt.fields])
        if isinstance(dt, T.MapType):
            return pa.map_(conv(dt.keyType), conv(dt.valueType))
        raise TypeError(f"unsupported type for arrow mapping: {dt}")

    return pa.schema([pa.field(f.name, conv(f.dataType), True) for f in schema.fields])


def _null_safe_key_arr(t, key_cols):
    """NULL-safe composite key encoding shared by the merge kernels: validity
    is encoded explicitly ("t<value>" / "f") so NULL is a distinct, matchable
    key value instead of poisoning is_in / equality."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = []
    for k in key_cols:
        s = pc.cast(t.column(k).combine_chunks(), pa.string())
        cols.append(pc.binary_join_element_wise(
            pc.if_else(pc.is_valid(s), pa.scalar("t"), pa.scalar("f")),
            pc.fill_null(s, ""), "",
        ))
    if len(cols) == 1:
        return cols[0]
    return pc.binary_join_element_wise(*cols, "\x1f")


#: column aggregators accepted by merge_mode="aggregate" (Paimon
#: aggregation merge-engine field functions). Every one of them is
#: COMBINABLE: folding a batch to one partial row per key, then folding
#: partial rows across layers, yields the same result as one flat fold —
#: the property the two-level (batch kernel → MoR scan) architecture needs.
_AGG_FUNCS = ("last_non_null", "last", "first_non_null", "sum", "max", "min")


def _partial_fold(t, key_cols, ord_col, op_col, delete_op, replace_op,
                  payload_cols, agg_spec=None):
    """Per-key PARTIAL-UPDATE / AGGREGATION fold (Paimon partial-update and
    aggregation merge-engine semantics): rows are versions ordered by
    ``ord_col`` (larger = newer); by default an upsert contributes only its
    NON-NULL columns (null = "no change" — setting a column to null is not
    expressible, the documented limitation of patch semantics); ``delete_op``
    removes the key and blocks everything older; ``replace_op`` contributes a
    full row and blocks everything older (the encoding for "this key's
    history crossed a delete" in delta layers, for base files, and for
    explicit full-row replace events).

    ``agg_spec`` (aggregate tables) overrides the per-column combine: one of
    ``last_non_null`` (default, the partial-update rule), ``last`` (newest
    version wins, nulls meaningful), ``first_non_null`` (oldest non-null
    wins), ``sum`` / ``max`` / ``min`` (over eligible non-null versions;
    numeric, plus timestamp for max/min). All six are combinable, so the
    same function serves the batch-local fold and the cross-layer fold.

    Returns one row per key: ``payload_cols`` + ``op_col`` + ``ord_col``
    where op is ``delete_op`` (key dead), ``replace_op`` (live, history
    contains a cut — older layers must NOT contribute), or "U" (pure patch),
    and ord is the newest contributing version.

    Cost shape: the sort touches only (encoded key, ord) pairs — never the
    payload; per column the fold is one numpy ``minimum.reduceat`` over row
    indices plus ONE ``take`` of the winning values, so payload strings are
    copied exactly once into the result and are never sorted.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = t.num_rows
    out_schema = [(c, t.schema.field(c).type) for c in payload_cols]
    if n == 0:
        return pa.table(
            {
                **{c: pa.nulls(0, typ) for c, typ in out_schema},
                op_col: pa.nulls(0, pa.string()),
                ord_col: pa.nulls(0, pa.int64()),
            }
        )
    keys = _null_safe_key_arr(t, key_cols)
    ordv = pc.cast(t.column(ord_col).combine_chunks(), pa.int64())
    sort_idx = pc.sort_indices(
        pa.table({"k": keys, "o": ordv}),
        sort_keys=[("k", "ascending"), ("o", "descending")],
    )
    sidx = sort_idx.to_numpy()
    k_sorted = pc.take(keys, sort_idx)
    if n > 1:
        ne = pc.not_equal(k_sorted.slice(1), k_sorted.slice(0, n - 1))
        starts = np.flatnonzero(
            np.r_[True, ne.to_numpy(zero_copy_only=False)]
        )
    else:
        starts = np.array([0], dtype=np.int64)
    run_len = np.diff(np.r_[starts, n])
    opv = t.column(op_col).combine_chunks()
    is_del = pc.equal(opv, pa.scalar(delete_op))
    is_rep = pc.equal(opv, pa.scalar(replace_op))
    is_del = pc.fill_null(is_del, False).to_numpy(zero_copy_only=False)[sidx]
    is_rep = pc.fill_null(is_rep, False).to_numpy(zero_copy_only=False)[sidx]
    stop = is_del | is_rep
    csx = np.cumsum(stop)
    excl = csx - stop  # stops strictly newer than row i, globally
    n_stops_newer = excl - np.repeat(excl[starts], run_len)
    elig = (n_stops_newer == 0) & ~is_del
    pos = np.arange(n, dtype=np.int64)
    live_first = np.minimum.reduceat(np.where(elig, pos, n), starts)
    live = live_first < n
    any_stop = np.add.reduceat(stop.astype(np.int64), starts) > 0
    ops = np.where(~live, delete_op, np.where(any_stop, replace_op, "U"))
    # one output row per run; values taken from the run's newest valid
    # eligible row per column. Dead keys keep their key-column values (the
    # delete row carries them) so delta layers can name what they delete.
    out_cols = {}
    key_set = set(key_cols)
    for c, typ in out_schema:
        col = t.column(c).combine_chunks()
        valid = pc.is_valid(col).to_numpy(zero_copy_only=False)[sidx]
        agg = "last_non_null" if c in key_set else (
            (agg_spec or {}).get(c, "last_non_null"))
        if agg in ("sum", "max", "min"):
            # numeric reduceat fold: values in SORTED order, ineligible rows
            # masked to the agg's identity; no take — the reduction IS the
            # output. timestamps ride as int64 (max/min only).
            is_ts = pa.types.is_timestamp(typ)
            wide = (pa.float64() if pa.types.is_floating(typ)
                    else pa.int64())
            mask = elig & valid
            if agg == "sum":
                ident = 0
            elif agg == "max":
                ident = (-np.inf if wide == pa.float64()
                         else np.iinfo(np.int64).min)
            else:
                ident = (np.inf if wide == pa.float64()
                         else np.iinfo(np.int64).max)
            vals = pc.fill_null(pc.cast(col, wide), ident).to_numpy(
                zero_copy_only=False)[sidx]
            vals = np.where(mask, vals, ident)
            red = {"sum": np.add, "max": np.maximum,
                   "min": np.minimum}[agg].reduceat(vals, starts)
            has = np.add.reduceat(mask.astype(np.int64), starts) > 0
            # cast back to the declared type; integer overflow raises
            # (arrow checked cast) instead of silently wrapping. Timestamps
            # round-trip through int64 epoch values in the type's own unit.
            res = pc.cast(pa.array(red), typ) if not is_ts else (
                pa.array(red, type=pa.int64()).cast(typ))
            out_cols[c] = pc.if_else(
                pa.array(has), res, pa.scalar(None, type=typ))
            continue
        # positional folds: pick ONE winning row per run per column, then a
        # single take of the winning values (payloads copied exactly once)
        if agg == "last":
            take_from = valid if c in key_set else elig
        elif c in key_set:
            # key columns are constant within a run (they ARE the run), so
            # any valid row supplies them — including for dead keys, whose
            # delta delete row must still name its key
            take_from = valid
        else:
            take_from = elig & valid
        if agg == "first_non_null":
            cand = np.where(take_from, pos, -1)
            pick = np.maximum.reduceat(cand, starts)  # oldest = largest pos
            has = pick >= 0
        else:
            cand = np.where(take_from, pos, n)
            pick = np.minimum.reduceat(cand, starts)  # newest = smallest pos
            has = pick < n
        safe = np.where(has, pick, 0)
        taken = pc.take(col, pa.array(sidx[safe], type=pa.int64()))
        out_cols[c] = pc.if_else(
            pa.array(has), taken, pa.scalar(None, type=typ)
        )
    out_cols[op_col] = pa.array(ops.astype(object), type=pa.string())
    out_cols[ord_col] = pc.take(
        ordv, pa.array(sidx[starts], type=pa.int64())
    )
    return pa.table(out_cols)


def _make_bucket_processor(payload_cols, key_cols, seq_col, op_col, delete_op,
                           write_mode, compact_threshold, staging, staging_rel,
                           sort_by=None, max_rows_per_file=None,
                           merge_mode="latest_wins", replace_op="R",
                           agg_spec=None):
    """Build the per-bucket merge kernel shared by the shuffled and the
    aligned (zero-shuffle) apply paths. The returned closure runs inside
    Python workers (pickled by value): given a bucket id, its deduplicatable
    event table (payload + seq + op, normalized types) and its existing
    [(path, kind, gen)] layers, it writes a delta or a compacted/merged base
    file and returns the DataFile/lineage entries.

    ``sort_by`` / ``max_rows_per_file`` (clustering rewrite, compact() only):
    the merged bucket is sorted by the given columns and split into
    range-disjoint files, so the manifest zone maps recorded per file become
    tight and selective — the OPTIMIZE ... ZORDER shape that makes
    ``read(where=...)`` file pruning effective on the sort columns.

    ``DSX_WRITE_STATS=0`` (read on the DRIVER at kernel-build time, shipped
    by value) skips footer zone-map recording — the A/B lever for isolating
    stats cost in the write path; pruning then simply sees no stats."""
    record_stats = os.environ.get("DSX_WRITE_STATS", "1") != "0"

    def process(b, ev, files):
        import os as _os
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        # executors own the data-file byte path (pyarrow targets the store
        # natively); on local disk that means creating the staging dir —
        # fs.makedirs is a prefix no-op when metadata lives on an object store
        _os.makedirs(staging, exist_ok=True)
        pay_fields = [ev.schema.field(c) for c in payload_cols]
        seq_minmax = pc.min_max(ev.column(seq_col))
        entry = {
            "bucket": b,
            "path": None,
            "rows": 0,
            "events": ev.num_rows,
            "min_seq": seq_minmax["min"].as_py(),
            "max_seq": seq_minmax["max"].as_py(),
            "reason": None,
            "kind": "base",
            "stats": None,
        }

        def key_arr(t):
            # NULL-safe key encoding: a raw cast leaves NULL keys NULL, which
            # poisons is_in (shadow cascade) — encode validity explicitly so
            # NULL is a distinct, matchable key value ("f" vs "t<value>").
            cols = []
            for k in key_cols:
                s = pc.cast(t.column(k).combine_chunks(), pa.string())
                cols.append(pc.binary_join_element_wise(
                    pc.if_else(pc.is_valid(s), pa.scalar("t"), pa.scalar("f")),
                    pc.fill_null(s, ""), "",
                ))
            if len(cols) == 1:
                return cols[0]
            return pc.binary_join_element_wise(*cols, "\x1f")

        # LWW on EVENTS ONLY: sort (keys, seq), keep the last row of each key
        # run. Old layers never join the sort — they only take hash-membership
        # filters (cascade below) — so the table's (large, string-heavy)
        # payload is copied once, never sorted.
        srt = ev.sort_by(
            [(k, "ascending") for k in key_cols] + [(seq_col, "ascending")]
        )
        n = srt.num_rows
        if merge_mode in ("partial_update", "aggregate") and n > 0:
            # batch-local partial/aggregate fold: one row per key carrying
            # the batch's net patch (or partial aggregate); op records
            # whether the history crossed a cut (delete/replace) so older
            # layers know to stop contributing
            ev_latest = _partial_fold(
                ev, key_cols, seq_col, op_col, delete_op, replace_op,
                payload_cols, agg_spec=agg_spec,
            )
        elif n == 0:
            ev_latest = srt  # compaction-only invocation: no new events
        else:
            changed = None
            for k in key_cols:
                col = srt.column(k).combine_chunks()
                lhs, rhs = col.slice(0, n - 1), col.slice(1)
                # NULL-safe inequality: not_equal is NULL when either side is
                # NULL, and filter() drops NULL-mask rows — which silently
                # dropped rows whose key contains NULLs. Equal iff both valid
                # and equal, or both NULL.
                neq = pc.or_(
                    pc.xor(pc.is_valid(lhs), pc.is_valid(rhs)),
                    pc.fill_null(pc.not_equal(lhs, rhs), False),
                )
                changed = neq if changed is None else pc.or_(changed, neq)
            last_mask = pa.concat_arrays([changed, pa.array([True])])
            ev_latest = srt.filter(last_mask)

        # per-bucket jitter staggers compaction across epochs — with a
        # uniform feed every bucket would otherwise hit the threshold on the
        # same epoch and the whole table would compact at once
        if write_mode == "mor" and (
            len(files) + 1 < compact_threshold + (b % compact_threshold)
        ):
            # merge-on-read fast path: persist this epoch's latest-per-key
            # upserts+deletes as a DELTA layer (Iceberg v2 equality-delete
            # pattern) — no old file is read or rewritten
            import json as _json

            name = f"b{b:05d}-d{_uuid.uuid4().hex}.parquet"
            full = _os.path.join(staging, name)
            pq.write_table(ev_latest, full, compression="snappy")
            entry["path"] = _os.path.join(staging_rel, name)
            entry["rows"] = ev_latest.num_rows
            entry["kind"] = "delta"
            if record_stats:
                entry["stats"] = _json.dumps(_footer_stats(full))
            return [entry]

        if merge_mode in ("partial_update", "aggregate"):
            # full merge / compaction, partial/aggregate mode: layers can't
            # shadow by key (older layers still contribute columns) — stack
            # every layer with its generation as the version order and run
            # the shared fold. Events sit above all generations.
            import numpy as _np

            def _const(v, m):
                return pa.array(_np.full(m, v, dtype="int64"))

            pieces2 = []
            if ev_latest.num_rows:
                pieces2.append(pa.table(
                    {c: ev_latest.column(c) for c in payload_cols}
                    | {op_col: ev_latest.column(op_col),
                       "_dsxord": _const(1 << 62, ev_latest.num_rows)}
                ))
            for path, kind, gen in files:
                t = pq.read_table(path)
                cols = []
                for f in pay_fields:
                    if t.schema.get_field_index(f.name) >= 0:
                        cols.append(t.column(f.name).cast(f.type))
                    else:  # schema evolution: old file lacks the column
                        cols.append(pa.nulls(t.num_rows, f.type))
                op_arr = (
                    t.column(op_col).combine_chunks()
                    if kind == "delta" and t.schema.get_field_index(op_col) >= 0
                    else pa.array([replace_op] * t.num_rows, pa.string())
                )
                pieces2.append(pa.table(
                    dict(zip(payload_cols, cols))
                    | {op_col: op_arr, "_dsxord": _const(gen, t.num_rows)}
                ))
            comb = pa.concat_tables(pieces2) if pieces2 else pa.table(
                {**{f.name: pa.nulls(0, f.type) for f in pay_fields},
                 op_col: pa.nulls(0, pa.string()),
                 "_dsxord": pa.nulls(0, pa.int64())}
            )
            folded = _partial_fold(comb, key_cols, "_dsxord", op_col,
                                   delete_op, replace_op, payload_cols,
                                   agg_spec=agg_spec)
            final = folded.filter(pc.not_equal(
                folded.column(op_col).combine_chunks(), pa.scalar(delete_op)
            )).select(payload_cols)
        else:
            # full merge / compaction: newest-gen-wins cascade. Walk layers
            # newest→oldest; a layer's keys shadow everything older; delete
            # winners shadow but don't emit.
            winners = ev_latest.filter(
                pc.not_equal(
                    ev_latest.column(op_col).combine_chunks(),
                    pa.scalar(delete_op),
                )
            ).select(payload_cols)
            pieces = [winners]
            seen = [key_arr(ev_latest)]
            for path, kind, _gen in sorted(files, key=lambda x: -x[2]):
                t = pq.read_table(path)
                cols = []
                for f in pay_fields:
                    if t.schema.get_field_index(f.name) >= 0:
                        cols.append(t.column(f.name).cast(f.type))
                    else:  # schema evolution: old file lacks the column
                        cols.append(pa.nulls(t.num_rows, f.type))
                aligned = pa.table(cols, names=payload_cols)
                keys_t = key_arr(aligned)
                live_mask = pc.invert(
                    pc.is_in(keys_t, value_set=pa.chunked_array(seen))
                )
                if kind == "delta":
                    live_mask = pc.and_(
                        live_mask,
                        pc.not_equal(
                            t.column(op_col).combine_chunks(),
                            pa.scalar(delete_op),
                        ),
                    )
                pieces.append(aligned.filter(live_mask))
                seen.append(keys_t)
            final = pa.concat_tables(pieces)
        if final.num_rows:
            import json as _json

            if sort_by:
                final = final.sort_by([(c, "ascending") for c in sort_by])
            n_files = 1
            if max_rows_per_file and final.num_rows > max_rows_per_file:
                n_files = -(-final.num_rows // max_rows_per_file)
            step = -(-final.num_rows // n_files)
            out_entries = []
            for i in range(n_files):
                chunk = final.slice(i * step, step)
                if chunk.num_rows == 0:
                    continue
                name = f"b{b:05d}-{_uuid.uuid4().hex}.parquet"
                full = _os.path.join(staging, name)
                pq.write_table(chunk, full, compression="snappy")
                e = dict(entry)
                e["path"] = _os.path.join(staging_rel, name)
                e["rows"] = chunk.num_rows
                if record_stats:
                    e["stats"] = _json.dumps(_footer_stats(full))
                out_entries.append(e)
            return out_entries
        return [entry]

    return process


def _enc_ref(bucket: str, ref: dict) -> list:
    """Compact on-disk manifest ref: [uuid-hex, files, rows, deltas01] —
    the path prefix ``m-{bucket}-`` and ``.json`` suffix reconstruct from
    the bucket id, so a 4096-bucket manifest list stays small."""
    suffix = ref["path"]
    prefix = f"m-{bucket}-"
    if suffix.startswith(prefix) and suffix.endswith(".json"):
        suffix = suffix[len(prefix):-5]
    return [suffix, ref["files"], ref["rows"], 1 if ref["deltas"] else 0]


def _dec_ref(bucket: str, enc: list) -> dict:
    return {
        "path": f"m-{bucket}-{enc[0]}.json",
        "files": enc[1],
        "rows": enc[2],
        "deltas": bool(enc[3]),
    }


# decoded FULL manifest lists by (meta_dir, version): full lists are
# immutable once published, so sharing across Snapshot loads is sound
_BASE_REFS_CACHE: "OrderedDict[tuple, dict]" = OrderedDict()


class _LazyFiles(Mapping):
    """Per-bucket manifest loader: a dict-shaped view over the snapshot's
    manifest refs that parses each bucket's manifest file ONLY when that
    bucket is actually touched (and caches it). Full-table scans still load
    everything — they read every file anyway — but bucket-pruned reads,
    keyed lookups, colocated merges, and changelog classification now parse
    O(touched buckets) of metadata instead of one monolithic JSON."""

    def __init__(self, fs: LakeFS, meta_dir: str, refs: dict[str, dict]):
        self._fs = fs
        self._meta = meta_dir
        self._refs = refs
        self._cache: dict[str, list[dict]] = {}

    def __getitem__(self, bucket: str) -> list[dict]:
        fl = self._cache.get(bucket)
        if fl is None:
            ref = self._refs[bucket]  # KeyError propagates, dict-style
            fl = json.loads(
                self._fs.read_text(os.path.join(self._meta, ref["path"])))
            self._cache[bucket] = fl
        return fl

    def __iter__(self):
        return iter(self._refs)

    def __len__(self) -> int:
        return len(self._refs)


class _OverlayFiles(Mapping):
    """Base files mapping + per-bucket overrides — lets a commit carry the
    parent's untouched buckets WITHOUT loading their manifests."""

    def __init__(self, base: Mapping, overlay: dict[str, list[dict]]):
        self._base = base
        self._overlay = overlay
        self._keys = list(dict.fromkeys([*base, *overlay]))

    def __getitem__(self, bucket: str) -> list[dict]:
        if bucket in self._overlay:
            return self._overlay[bucket]
        return self._base[bucket]

    def __iter__(self):
        return iter(self._keys)

    def __len__(self) -> int:
        return len(self._keys)


@dataclass
class Snapshot:
    version: int
    schema: T.StructType
    bucket_key: str
    n_buckets: int
    # bucket id (str) -> list of {"path": rel_path, "rows": int,
    #                             "kind": "base"|"delta", "gen": int}
    # kind/gen absent => base/0 (pre-MoR snapshots). A "delta" file holds the
    # latest-per-key upserts+deletes of one apply (Iceberg-v2-equality-delete
    # style); readers/compaction resolve newest-gen-wins per key.
    # May be a plain dict (in-memory / legacy format) or a _LazyFiles view
    # over per-bucket manifest files (segmented format).
    files: Mapping
    properties: dict
    # Segmented metadata (Iceberg manifest-list analog): bucket id ->
    # {"path": manifest file name, "files": n, "rows": n, "deltas": bool}.
    # None for legacy monolithic snapshots and hand-built Snapshot objects.
    # Always the MERGED view (full), regardless of how it was stored.
    manifest_refs: dict | None = None
    # How the manifest list was stored on disk: version of the nearest FULL
    # list, and this snapshot's cumulative delta against it (bucket -> ref,
    # or None for a removed bucket). A full-form snapshot has
    # manifest_base == its own version and an empty delta. The next commit
    # extends the delta until it exceeds the rewrite threshold.
    manifest_base: int | None = None
    manifest_delta: dict | None = None

    def total_rows(self) -> int:
        """PHYSICAL rows across data files. On MoR snapshots delta layers
        include delete markers and superseded key versions, so this
        over-counts live rows — use :meth:`LakeTable.live_row_count` (a
        merged read) for the logical table size."""
        if self.manifest_refs is not None:
            return sum(r["rows"] for r in self.manifest_refs.values())
        return sum(f["rows"] for fl in self.files.values() for f in fl)

    def has_deltas(self, buckets=None) -> bool:
        wanted = None if buckets is None else {str(b) for b in buckets}
        if self.manifest_refs is not None:
            # metadata-only answer from the manifest-list summaries: no
            # per-bucket manifest is parsed
            return any(
                r["deltas"]
                for b, r in self.manifest_refs.items()
                if wanted is None or b in wanted
            )
        return any(
            f.get("kind", "base") == "delta"
            for b, fl in self.files.items()
            if wanted is None or b in wanted
            for f in fl
        )

    def to_json(self) -> dict:
        """Full (monolithic) JSON form — materializes every bucket's file
        list; the publish path uses :meth:`meta_json` instead."""
        return {
            "version": self.version,
            "schema": self.schema.jsonValue(),
            "partition": {"kind": "bucket", "key": self.bucket_key, "n": self.n_buckets},
            "files": {b: list(fl) for b, fl in self.files.items()},
            "properties": self.properties,
        }

    def meta_json(self) -> dict:
        """Segmented JSON form (FULL manifest list): the snapshot carries
        only per-bucket refs + summaries; file lists live in per-bucket
        manifest files. ``_commit`` usually stores the cheaper DELTA form
        instead (``manifests_base``/``manifests_delta``) — see
        :meth:`from_json` for both."""
        return {
            "version": self.version,
            "schema": self.schema.jsonValue(),
            "partition": {"kind": "bucket", "key": self.bucket_key, "n": self.n_buckets},
            "manifests": {b: _enc_ref(b, r) for b, r in self.manifest_refs.items()},
            "properties": self.properties,
        }

    @staticmethod
    def from_json(d: dict, fs: LakeFS | None = None,
                  meta_dir: str | None = None) -> "Snapshot":
        refs = None
        base = None
        delta = None
        if "manifests" in d:
            refs = {b: _dec_ref(b, e) for b, e in d["manifests"].items()}
            base, delta = d["version"], {}
        elif "manifests_base" in d:
            # delta form: merge the nearest FULL list with this snapshot's
            # cumulative delta — at most two small JSON parses per load,
            # and the base's decoded refs are cached process-wide (full
            # lists are immutable), so a stream catching up over many
            # versions parses each base once, not once per version
            if fs is None or meta_dir is None:
                raise ValueError(
                    "segmented snapshot needs fs + meta_dir to resolve "
                    "its manifest-list base")
            base = int(d["manifests_base"])
            ck = (meta_dir, base)
            cached = _BASE_REFS_CACHE.get(ck)
            if cached is None:
                try:
                    raw = fs.read_text(os.path.join(meta_dir, _snapshot_name(base)))
                except OSError:
                    # base version expired by vacuum: its full list survives
                    # under the side name so live v*.json stay contiguous
                    raw = fs.read_text(os.path.join(meta_dir, _base_name(base)))
                bd = json.loads(raw)
                if "manifests" not in bd:
                    raise ValueError(
                        f"manifest-list base v{base} is not a full-form snapshot")
                cached = {b: _dec_ref(b, e) for b, e in bd["manifests"].items()}
                _BASE_REFS_CACHE[ck] = cached
                if len(_BASE_REFS_CACHE) > 8:
                    _BASE_REFS_CACHE.popitem(last=False)
            else:
                _BASE_REFS_CACHE.move_to_end(ck)
            refs = dict(cached)  # ref values shared + treated immutable
            delta = {b: (_dec_ref(b, e) if e is not None else None)
                     for b, e in d["manifests_delta"].items()}
            for b, r in delta.items():
                if r is None:
                    refs.pop(b, None)
                else:
                    refs[b] = r
        if refs is not None:
            if fs is None or meta_dir is None:
                raise ValueError(
                    "segmented snapshot needs fs + meta_dir to resolve "
                    "per-bucket manifests")
            files: Mapping = _LazyFiles(fs, meta_dir, refs)
        else:
            files = d["files"]
        return Snapshot(
            version=d["version"],
            schema=T.StructType.fromJson(d["schema"]),
            bucket_key=d["partition"]["key"],
            n_buckets=d["partition"]["n"],
            files=files,
            properties=d.get("properties", {}),
            manifest_refs=refs,
            manifest_base=base,
            manifest_delta=delta,
        )


def _make_footer_stats():
    """Build the footer-stats reader as a LOCAL function: its qualname
    contains ``<locals>``, so cloudpickle ships it by value inside the write
    kernels — executors never need to import this package (the kernels'
    self-containment contract: a bare spark-submit without --py-files still
    runs the engine)."""

    def footer_stats(path: str) -> dict:
        """Per-file column zone maps {col: [min, max, null_count]} read from
        the parquet FOOTER the writer already produced (free at write time —
        the Iceberg write-metrics analog). A column is dropped when any row
        group lacks sound min/max (parquet guarantees stored min/max bound
        the values even when inexact/truncated, so what remains is always
        safe to prune on). Nested paths and long strings are skipped to
        bound manifest size."""
        import datetime as _dt

        import pyarrow.parquet as pq

        def enc_stat(v):
            if isinstance(v, bool) or v is None:
                return None
            if isinstance(v, (int, float)):
                return v
            if isinstance(v, str):
                return v if len(v) <= 64 else None
            if isinstance(v, _dt.datetime):
                if v.tzinfo is not None:
                    v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                return v.isoformat()
            if isinstance(v, _dt.date):
                return v.isoformat()
            return None

        md = pq.read_metadata(path)
        out: dict = {}
        bad: set = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name or name in bad:
                    continue
                st = col.statistics
                enc = (None, None)
                if st is not None and st.has_min_max:
                    enc = (enc_stat(st.min), enc_stat(st.max))
                if enc[0] is None or enc[1] is None:
                    bad.add(name)
                    out.pop(name, None)
                    continue
                nulls = st.null_count if st.null_count is not None else 0
                prev = out.get(name)
                if prev is None:
                    out[name] = [enc[0], enc[1], nulls]
                else:
                    out[name] = [min(prev[0], enc[0]), max(prev[1], enc[1]),
                                 prev[2] + nulls]
        return out

    return footer_stats


_footer_stats = _make_footer_stats()


_PRED_RE = None


def _parse_prune_preds(where: str) -> list[tuple[str, str, object]]:
    """Best-effort extraction of prunable conjuncts from a SQL-ish where
    string: top-level `col OP literal` terms joined by AND (no parens, no
    OR — those disable pruning entirely; the full predicate is always
    re-applied as a filter, so pruning is only ever an optimization)."""
    import re

    global _PRED_RE
    if _PRED_RE is None:
        _PRED_RE = re.compile(
            r"^\s*`?([A-Za-z_]\w*)`?\s*(>=|<=|==|=|<|>)\s*(.+?)\s*$"
        )
    if not where or "(" in where or re.search(r"\bor\b", where, re.I):
        return []
    preds = []
    for term in re.split(r"\band\b", where, flags=re.I):
        m = _PRED_RE.match(term)
        if not m:
            continue
        col, op, lit = m.group(1), m.group(2), m.group(3)
        if (lit.startswith("'") and lit.endswith("'")) or \
           (lit.startswith('"') and lit.endswith('"')):
            val: object = lit[1:-1]
        else:
            try:
                val = int(lit)
            except ValueError:
                try:
                    val = float(lit)
                except ValueError:
                    continue  # unparseable literal: no pruning on this term
        preds.append((col, "=" if op == "==" else op, val))
    return preds


def _coerce_bound(a, b):
    """Make a (stat bound) and b (literal) comparable, or raise TypeError.
    ISO strings compare as datetimes when both parse (timestamp stats are
    stored ISO; date-only literals mean midnight, matching SQL casts)."""
    import datetime as _dt

    if isinstance(a, str) and isinstance(b, str):
        try:
            return _dt.datetime.fromisoformat(a), _dt.datetime.fromisoformat(b)
        except ValueError:
            return a, b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return a, b
    raise TypeError


def _file_may_match(stats: dict | None, preds) -> bool:
    """False only when the zone map PROVES no row satisfies the conjunction
    (missing stats or incomparable types keep the file — pruning must never
    lose rows)."""
    if not stats:
        return True
    for col, op, lit in preds:
        s = stats.get(col)
        if not s:
            continue
        try:
            if op == "in":
                keep = False
                for v in lit:
                    try:
                        lo, lv = _coerce_bound(s[0], v)
                        hi, _ = _coerce_bound(s[1], v)
                    except TypeError:
                        keep = True
                        break
                    if lo <= lv <= hi:
                        keep = True
                        break
                if not keep:
                    return False
                continue
            lo, lv = _coerce_bound(s[0], lit)
            hi, _ = _coerce_bound(s[1], lit)
        except TypeError:
            continue
        if op == "=" and (lv < lo or lv > hi):
            return False
        if op == ">" and hi <= lv:
            return False
        if op == ">=" and hi < lv:
            return False
        if op == "<" and lo >= lv:
            return False
        if op == "<=" and lo > lv:
            return False
    return True


def _aligned_src_col(name: str, f: T.StructField, src_types: dict) -> Column:
    """Source column aligned to the table field: absent -> typed NULL;
    narrower-in-lattice -> cast up (the post-widening steady state for feeds
    still emitting the old width); anything else passes through untouched
    (the Arrow kernel normalizes, exactly as before widening existed)."""
    st = src_types.get(name)
    if st is None:
        return F.lit(None).cast(f.dataType).alias(name)
    if st != f.dataType and is_type_widening(st, f.dataType):
        return F.col(name).cast(f.dataType).alias(name)
    return F.col(name).alias(name)


def _collect_apply_entries(entries, next_gen: int) -> tuple[dict, dict]:
    """Fold task-reported apply entries into (new_files, stats)."""
    new_files: dict[str, list[dict]] = {}
    lineage: dict[str, dict] = {}
    dirty: dict[str, int] = {}
    for r in sorted(entries, key=lambda r: (r["bucket"], r["path"] or "")):
        if r["bucket"] == -1:
            dirty[r["reason"]] = dirty.get(r["reason"], 0) + int(r["rows"])
            continue
        lineage[str(r["bucket"])] = {
            "min_seq": r["min_seq"],
            "max_seq": r["max_seq"],
            "events": int(r["events"]),
            "kind": r["kind"],
        }
        if r["rows"] and r["path"]:
            entry = {"path": r["path"], "rows": r["rows"],
                     "kind": r["kind"], "gen": next_gen}
            if r["stats"]:
                entry["stats"] = json.loads(r["stats"])
            new_files.setdefault(str(r["bucket"]), []).append(entry)
    stats = {
        "lineage": lineage,
        "dirty": dirty,
        "dirty_total": sum(dirty.values()),
        "events_total": sum(v["events"] for v in lineage.values()),
        "max_applied_seq": max(
            (v["max_seq"] for v in lineage.values() if v["max_seq"] is not None),
            default=None,
        ),
    }
    return new_files, stats


class CommitConflict(Exception):
    """Another writer published this snapshot version first (optimistic concurrency)."""


_INT_RANK = {T.ByteType: 0, T.ShortType: 1, T.IntegerType: 2, T.LongType: 3}
_FLOAT_RANK = {T.FloatType: 0, T.DoubleType: 1}


def is_type_widening(src: T.DataType, dst: T.DataType) -> bool:
    """True iff ``src -> dst`` is a STRICT lossless promotion (Iceberg
    type-promotion lattice): byte < short < int < long; float < double."""
    for rank in (_INT_RANK, _FLOAT_RANK):
        if type(src) in rank and type(dst) in rank:
            return rank[type(src)] < rank[type(dst)]
    return False


def _merge_mode_of(snap: "Snapshot") -> str:
    """Table-level merge engine: "latest_wins" (default — the newest version
    of a key replaces the whole row), "partial_update" (Paimon
    partial-update semantics — an upsert patches only its non-null columns;
    null means "no change", so setting a column back to null is not
    expressible), or "aggregate" (Paimon aggregation merge-engine — each
    column combines versions with its own function from ``merge_agg_spec``).
    Set once at create() via ``merge_mode=``."""
    mode = snap.properties.get("merge_mode", "latest_wins")
    if mode not in ("latest_wins", "partial_update", "aggregate"):
        raise ValueError(f"unknown merge_mode {mode!r}")
    return mode


def _agg_spec_of(snap: "Snapshot") -> dict | None:
    """Per-column aggregators for merge_mode="aggregate" tables (property
    ``merge_agg_spec``, a JSON object col→func). Columns not listed default
    to last_non_null (the partial-update rule). None for other modes."""
    if _merge_mode_of(snap) != "aggregate":
        return None
    import json as _json

    return _json.loads(snap.properties.get("merge_agg_spec", "{}"))


def _replace_op_of(snap: "Snapshot") -> str:
    """Op value reserved (partial_update tables) for full-row REPLACE: the
    event/delta row contributes all its columns and blocks older layers.
    Emitted internally when a batch's history crosses a delete; also valid
    in user feeds as an explicit replace event."""
    rep = snap.properties.get("merge_replace_op", "R")
    if rep == snap.properties.get("merge_delete_op", "D"):
        raise ValueError("merge_replace_op must differ from merge_delete_op")
    return rep


def classify_commit(parent: "Snapshot", cur: "Snapshot") -> dict | None:
    """Per-bucket changelog classification of one commit (the shared planner
    behind :meth:`LakeTable.read_changes` and the streaming changelog source,
    streaming/changelog.py). Returns None for logical no-ops (compact /
    add_columns / drop_columns / rebucket), else::

        {"delta": [rel paths],        # folded upserts+deletes — read directly
         "insert": [rel paths],       # pure-insert base additions
         "delta_buckets": [ints],     # buckets owning the delta paths
         "insert_buckets": [ints],    # buckets owning the insert paths
         "diff_buckets": [ints],      # rewritten buckets — need a state diff
         "op_col", "delete_op", "seq_col",
         "est_rows": int}             # manifest row estimate (pacing)
    """
    if cur.properties.get("operation") in (
        "compact", "add_columns", "drop_columns", "widen_columns", "rebucket"
    ):
        return None
    delta_paths: list[str] = []
    insert_paths: list[str] = []
    delta_buckets: list[int] = []
    insert_buckets: list[int] = []
    diff_buckets: list[int] = []
    est = 0
    if parent.manifest_refs is not None and cur.manifest_refs is not None:
        # segmented metadata: a bucket whose manifest REF is identical in
        # both snapshots is provably unchanged — classification loads only
        # the changed buckets' manifests, O(touched) instead of O(table)
        pr, cr = parent.manifest_refs, cur.manifest_refs
        all_buckets = {
            b for b in set(cr) | set(pr)
            if pr.get(b, {}).get("path") != cr.get(b, {}).get("path")
        }
    else:
        all_buckets = set(cur.files) | set(parent.files)
    # deterministic bucket order: set iteration is hash-randomized across
    # processes, which made the path lists' order differ between the
    # ref-skip fast path and the generic path (and across runs)
    for b in sorted(all_buckets, key=int):
        cur_fl = cur.files.get(b, [])
        par_paths = {f["path"] for f in parent.files.get(b, [])}
        added = [f for f in cur_fl if f["path"] not in par_paths]
        cur_paths = {f["path"] for f in cur_fl}
        removed = [p for p in par_paths if p not in cur_paths]
        if not added and not removed:
            continue
        if added and not removed:
            kinds = {f.get("kind", "base") for f in added}
            # partial_update/aggregate tables: a delta row is a column PATCH
            # (or partial aggregate), not the folded post-image the fast path
            # hands out — every changed bucket needs the state diff to build
            # true pre/post rows
            if kinds == {"delta"} and _merge_mode_of(cur) == "latest_wins":
                delta_paths += [f["path"] for f in added]
                delta_buckets.append(int(b))
                est += sum(f.get("rows", 0) for f in added)
                continue
            if kinds == {"base"}:
                insert_paths += [f["path"] for f in added]
                insert_buckets.append(int(b))
                est += sum(f.get("rows", 0) for f in added)
                continue
        diff_buckets.append(int(b))
        est += sum(f.get("rows", 0) for f in cur_fl)
    return {
        "delta": delta_paths,
        "insert": insert_paths,
        "delta_buckets": sorted(delta_buckets),
        "insert_buckets": sorted(insert_buckets),
        "diff_buckets": sorted(diff_buckets),
        "op_col": cur.properties.get("merge_op_col", "op"),
        "delete_op": cur.properties.get("merge_delete_op", "D"),
        "seq_col": cur.properties.get("merge_seq_col", "seq"),
        "est_rows": est,
    }


class LakeTable:
    def __init__(self, spark: SparkSession, root: str, fs: LakeFS | None = None):
        self.spark = spark
        self.root = root
        # metadata/staging-layout IO goes through the FS seam (lake/fs.py);
        # data-file bytes go through pyarrow, which handles object stores
        self.fs = fs or LocalFS()
        # foreign-session entry point (external harness with its own
        # SparkSession): make the package importable in Python workers —
        # the Arrow merge kernels are module-referenced pickles
        from datax_spark.session import ensure_workers_can_import

        ensure_workers_can_import(spark)

    # ---------------------------------------------------------------- catalog

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        bucket_key: str,
        n_buckets: int = 32,
        properties: dict | None = None,
        fs: LakeFS | None = None,
        merge_mode: str | None = None,
        agg_spec: dict | None = None,
    ) -> "LakeTable":
        """``merge_mode="partial_update"`` switches the table to Paimon-style
        partial-update merge semantics: an upsert patches only its non-null
        columns (null = "no change"), a delete removes the key and blocks
        older versions from contributing, and the reserved replace op
        (property ``merge_replace_op``, default "R") marks full-row replace
        events. ``merge_mode="aggregate"`` is the Paimon aggregation
        merge-engine: each column combines versions with its own function
        from ``agg_spec`` (col → one of last_non_null/last/first_non_null/
        sum/max/min; unlisted columns default to last_non_null). Deletes and
        replaces cut the history exactly as in partial_update (a replace
        RESTARTS a running sum at its own value). NOTE: aggregation folds
        are NOT idempotent per event — re-applying an epoch double-counts
        sums; exactly-once comes from the engine's epoch-manifest skip.
        Default (None / "latest_wins"): newest version of a key replaces the
        whole row. Fixed at creation."""
        properties = dict(properties or {})
        if merge_mode is not None:
            properties["merge_mode"] = merge_mode
        if properties.get("merge_mode") not in (None, "latest_wins",
                                                "partial_update", "aggregate"):
            raise ValueError(
                f"unknown merge_mode {properties.get('merge_mode')!r}"
            )
        if agg_spec is not None:
            import json as _json

            if properties.get("merge_mode") != "aggregate":
                raise ValueError('agg_spec requires merge_mode="aggregate"')
            names = {f.name: f.dataType for f in schema.fields}
            numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.FloatType, T.DoubleType)
            for col, fn in agg_spec.items():
                if fn not in _AGG_FUNCS:
                    raise ValueError(
                        f"unknown aggregator {fn!r} for {col!r}; "
                        f"expected one of {_AGG_FUNCS}")
                if col not in names:
                    raise ValueError(f"agg_spec column {col!r} not in schema")
                if col == bucket_key:
                    raise ValueError(
                        f"agg_spec must not aggregate the bucket key {col!r}")
                dt = names[col]
                if fn == "sum" and not isinstance(dt, numeric):
                    raise ValueError(
                        f"sum aggregator needs a numeric column; {col!r} is "
                        f"{dt.simpleString()} (decimal sums are rejected — "
                        "running sums outgrow fixed precision)")
                if fn in ("max", "min") and not isinstance(
                        dt, numeric + (T.TimestampType,)):
                    raise ValueError(
                        f"{fn} aggregator needs a numeric/timestamp column; "
                        f"{col!r} is {dt.simpleString()}")
            properties["merge_agg_spec"] = _json.dumps(agg_spec)
        t = LakeTable(spark, root, fs=fs)
        t.fs.makedirs(os.path.join(root, _META))
        t.fs.makedirs(os.path.join(root, _DATA))
        if t.current_version() is not None:
            raise ValueError(f"table already exists at {root}")
        snap = Snapshot(
            version=0,
            schema=schema,
            bucket_key=bucket_key,
            n_buckets=n_buckets,
            files={},
            properties=properties or {},
            manifest_refs={},
        )
        t._publish(snap)
        return t

    @staticmethod
    def exists(root: str, fs: LakeFS | None = None) -> bool:
        fs = fs or LocalFS()
        meta = os.path.join(root, _META)
        return fs.isdir(meta) and any(n.endswith(".json") for n in fs.listdir(meta))

    def current_version(self) -> int | None:
        meta = os.path.join(self.root, _META)
        # Fast path: version hint + probe-forward. The hint may be stale
        # (a slower concurrent committer overwrote a newer one) — probing
        # v+1, v+2, … heals that at one HEAD per missed commit. A hint
        # pointing below the vacuum window (its snapshot JSON gone) or
        # corrupt falls through to the listing.
        try:
            v = int(self.fs.read_text(os.path.join(meta, _HINT_NAME)).strip())
        except (OSError, ValueError):
            v = None
        if v is not None and self.fs.isfile(os.path.join(meta, _snapshot_name(v))):
            while self.fs.isfile(os.path.join(meta, _snapshot_name(v + 1))):
                v += 1
            return v
        # Legacy / hintless fallback: list the meta dir (on an object store
        # this paginates over every per-bucket manifest file too — the hint
        # exists precisely so steady-state loads never pay this).
        if not self.fs.isdir(meta):
            return None
        versions = [
            int(n[1:-5]) for n in self.fs.listdir(meta) if n.startswith("v") and n.endswith(".json")
        ]
        return max(versions) if versions else None

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.current_version() if version is None else version
        if v is None:
            raise ValueError(f"no snapshot at {self.root}")
        return Snapshot.from_json(
            json.loads(self.fs.read_text(os.path.join(self.root, _META, _snapshot_name(v)))),
            fs=self.fs, meta_dir=os.path.join(self.root, _META),
        )

    def _publish(self, snap: Snapshot, payload: dict | None = None) -> None:
        """Atomic publish: create-if-absent fails if the version already exists
        (hard link on LocalFS; conditional PUT on an object store). Snapshots
        carrying manifest refs publish the segmented form (full manifest
        list, or the delta form ``_commit`` prepared in ``payload``);
        hand-built snapshots without refs fall back to the monolithic form —
        all three load back through :meth:`snapshot`."""
        final = os.path.join(self.root, _META, _snapshot_name(snap.version))
        if payload is None:
            payload = snap.meta_json() if snap.manifest_refs is not None else snap.to_json()
        try:
            self.fs.publish_atomic(final, json.dumps(payload))
        except FileExistsError as e:
            raise CommitConflict(f"snapshot v{snap.version} already committed") from e
        try:  # advisory hint AFTER the atomic publish; failure is harmless
            self.fs.write_text(
                os.path.join(self.root, _META, _HINT_NAME), str(snap.version))
        except OSError:
            pass

    def _write_manifest(self, bucket: str, fl: list[dict]) -> dict:
        """Write one bucket's manifest file and return its manifest-list ref
        (path + the summaries that answer has_deltas/total_rows/pacing
        without opening the manifest). Manifests are immutable and uniquely
        named, so concurrent committers can never collide on one; a manifest
        orphaned by a lost commit race is swept by vacuum()."""
        name = f"m-{bucket}-{uuid.uuid4().hex[:16]}.json"
        self.fs.publish_atomic(
            os.path.join(self.root, _META, name), json.dumps(fl))
        return {
            "path": name,
            "files": len(fl),
            "rows": sum(f.get("rows", 0) for f in fl),
            "deltas": any(f.get("kind", "base") == "delta" for f in fl),
        }

    # ------------------------------------------------------------------ reads

    def _bucket_expr(self, snap: Snapshot, col_name: str | None = None):
        key = F.col(col_name or snap.bucket_key)
        return F.pmod(F.xxhash64(key.cast("string")), F.lit(snap.n_buckets)).cast("int")

    def read(self, version: int | None = None, buckets: Iterable[int] | None = None,
             columns: list[str] | None = None, where: str | None = None,
             _in_pred: dict | None = None) -> DataFrame:
        """Read the table at a snapshot; ``buckets`` prunes at the file-list level

        (manifest-driven partition pruning — the scan never opens files of
        untouched buckets, the lake-table analog of Catalyst partition pruning).
        Snapshots holding MoR delta layers are resolved per bucket at scan time
        (newest-gen-wins, deletes applied) — the merge-on-read half of the
        Iceberg v2 equality-delete design. ``columns`` projects explicitly:
        Catalyst prunes the plain-scan path by itself, but a mapInArrow merge
        read is opaque to it, so the projection is pushed into the per-file
        parquet reads here.

        ``where`` additionally prunes FILES by the manifest's per-column
        min/max zone maps (recorded free from parquet footers at write time)
        before applying the predicate as a filter: a selective scan over a
        many-generation table opens only files whose ranges can match.
        Zone-map pruning runs only on base-only scans: under MoR deltas a
        newer layer can rewrite a row INTO the predicate's range, so pruning
        an old file there could surface a stale row — those scans merge
        first and filter after (always correct, just unpruned). ``_in_pred``
        ({col: values}) is the structured equality form :meth:`lookup` uses
        for key-set pruning (same base-only scope).
        """
        snap = self.snapshot(version)
        if snap.has_deltas(buckets):
            # _in_pred pushes into the merge scan when its columns are merge
            # keys (sound: keys are layer-stable); `where` stays post-merge
            df = self._read_merged(snap, buckets, columns, key_filter=_in_pred)
            return df.filter(where) if where else df
        wanted = None if buckets is None else {str(b) for b in buckets}
        preds = list(_parse_prune_preds(where)) if where else []
        if _in_pred:
            preds += [(c, "in", list(vs)) for c, vs in _in_pred.items()]
        # iterate keys first (manifest-list only), then load file lists for
        # just the selected buckets — a pruned read parses O(wanted) manifests
        bucket_ids = [b for b in snap.files if wanted is None or b in wanted]
        paths = [
            os.path.join(self.root, f["path"])
            for b in bucket_ids
            for f in snap.files[b]
            if not preds or _file_may_match(f.get("stats"), preds)
        ]
        if not paths:
            # project the empty result too, so schema matches the non-empty path
            return self.spark.createDataFrame([], self._projected_struct(snap, columns))
        # Explicit evolved schema: files written pre-evolution lack new columns
        # and read as NULL — schema evolution without rewrite.
        df = self.spark.read.schema(snap.schema).parquet(*paths)
        if where:
            df = df.filter(where)
        return df.select(*columns) if columns else df

    def lookup(self, keys: list, version: int | None = None,
               columns: list[str] | None = None) -> DataFrame:
        """Keyed point reads: the GetRow / PK-point analog of otsreader.

        The requested bucket-key values are hashed to their buckets with the
        SAME expression the write path uses, over an Arrow-backed local key
        frame that Spark folds on the driver (no job runs; exact by
        construction, no driver-side hash reimplementation to drift), then
        ONLY those buckets' files are read (manifest pruning)
        and filtered to the exact keys. Cost is O(requested buckets), never
        O(table): at 4096 buckets a single-conversation lookup opens ~1/4096
        of the data files regardless of table size.
        """
        keys = list(keys)
        if not keys:
            return self.spark.createDataFrame(
                [], self._projected_struct(self.snapshot(version), columns))
        snap = self.snapshot(version)
        import pyarrow as pa

        key_struct = T.StructType([snap.schema[snap.bucket_key]])
        kdf = self.spark.createDataFrame(
            pa.Table.from_pydict({snap.bucket_key: keys},
                                 schema=_arrow_schema_for(key_struct)))
        buckets = sorted({
            r[0] for r in kdf.select(self._bucket_expr(snap).alias("b")).collect()
        })
        need_key = columns is not None and snap.bucket_key not in columns
        cols = ([snap.bucket_key] + columns) if need_key else columns
        # zone-map key pruning: within the selected buckets, skip files whose
        # bucket-key [min,max] excludes every requested key; under MoR the
        # same key set also pushes into the merge scan (file prune + Arrow
        # row-group filter per layer) when the bucket key is a merge key —
        # a point lookup reads O(matching row groups), never the bucket
        df = self.read(version, buckets=buckets, columns=cols,
                       _in_pred={snap.bucket_key: keys})
        df = df.filter(F.col(snap.bucket_key).isin(keys))
        return df.select(*columns) if need_key else df

    @staticmethod
    def _projected_struct(snap: Snapshot, columns: list[str] | None) -> T.StructType:
        if not columns:
            return snap.schema
        return T.StructType([snap.schema[c] for c in columns])

    def _run_bucket_tasks(self, buckets: list[int], sizes: dict[int, int] | None,
                          kernel, schema) -> DataFrame:
        """Run ``kernel(my_buckets)`` (a generator of Arrow batches) once per
        task over an LPT packing of ``buckets``, seeded by ``spark.range`` so
        the launch is the kernel stage alone (see "task steering" above)."""
        n_tasks = min(len(buckets), max(self.spark.sparkContext.defaultParallelism, 1))
        groups = _task_groups(_assign_buckets_lpt(buckets, sizes, n_tasks), n_tasks)

        def run(batches):
            for batch in batches:
                for t in batch.column(0).to_pylist():
                    yield from kernel(groups[t])

        return self.spark.range(0, n_tasks, 1, n_tasks).mapInArrow(run, schema=schema)

    def _read_merged(self, snap: Snapshot, buckets: Iterable[int] | None,
                     columns: list[str] | None = None,
                     key_filter: dict | None = None) -> DataFrame:
        """Distributed merge-on-read: one range-seeded task set resolves each
        bucket's base ∪ delta layers (newest-gen-wins cascade, deletes
        dropped) and streams the live rows back as the snapshot schema.

        ``key_filter`` ({col: values}) restricts the scan to the given MERGE
        KEY values — sound under MoR because a row's key never changes across
        layers, so per-key newest-gen resolution over the restricted row set
        equals restricting the full resolution (unlike arbitrary predicates,
        which a newer layer can move rows into). It prunes twice: whole files
        via manifest zone maps on the key column, and rows/row-groups inside
        each surviving file via an Arrow dataset filter — a point ``lookup``
        on a 100-TB bucket then reads O(matching row groups), not the bucket.
        Filters on non-key columns are ignored (unsound to push)."""
        key_cols = [k for k in snap.properties.get("merge_keys", "").split(",") if k]
        if not key_cols:
            raise ValueError("snapshot has delta layers but no merge_keys property")
        if key_filter and not set(key_filter) <= set(key_cols):
            key_filter = None  # unsound to push: fall back to full merge
        if os.environ.get("DSX_KEY_PUSHDOWN", "1") == "0":
            key_filter = None  # A/B lever (read on the driver at plan time)
        op_col = snap.properties.get("merge_op_col", "op")
        delete_op = snap.properties.get("merge_delete_op", "D")
        merge_mode = _merge_mode_of(snap)
        replace_op = _replace_op_of(snap)
        agg_spec = _agg_spec_of(snap)
        out_cols = list(columns) if columns else [f.name for f in snap.schema.fields]
        # the cascade itself needs the merge keys even if not requested
        internal_cols = list(dict.fromkeys(out_cols + key_cols))
        if buckets is None:
            # v2 refs never hold empty buckets — keys alone suffice; v1
            # needs the emptiness check (which loads nothing: plain dict)
            items = (sorted(int(b) for b in snap.manifest_refs)
                     if snap.manifest_refs is not None
                     else sorted(int(b) for b in snap.files if snap.files[b]))
        else:
            items = sorted({int(b) for b in buckets})
            items = [b for b in items if snap.files.get(str(b))]
        if not items:
            return self.spark.createDataFrame([], self._projected_struct(snap, columns))
        table_root = self.root
        kf_preds = ([(c, "in", list(vs)) for c, vs in key_filter.items()]
                    if key_filter else None)
        file_map, sizes = {}, {}
        for b in items:
            entries = [
                f for f in snap.files[str(b)]
                if kf_preds is None or _file_may_match(f.get("stats"), kf_preds)
            ]
            file_map[b] = [
                (os.path.join(table_root, f["path"]), f.get("kind", "base"),
                 f.get("gen", 0))
                for f in entries
            ]
            sizes[b] = sum(f["rows"] for f in entries) + 1
        items = [b for b in items if file_map[b]]
        if not items:
            return self.spark.createDataFrame([], self._projected_struct(snap, columns))
        internal_set = set(internal_cols)
        internal_struct = T.StructType(
            [f for f in snap.schema.fields if f.name in internal_set]
        )
        target = _arrow_schema_for(internal_struct)
        internal_names = [f.name for f in internal_struct.fields]
        out_struct = T.StructType([snap.schema[c] for c in out_cols])
        out_target = _arrow_schema_for(out_struct)

        def read_merge(my_buckets):
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            kf = (None if key_filter is None else [
                (c, "in", list(vs)) for c, vs in key_filter.items()
            ])
            for b in my_buckets:
                if merge_mode in ("partial_update", "aggregate"):
                    # partial/aggregate fold: older layers still contribute
                    # columns, so no shadow cascade — stack layers with gen
                    # as version order and run the shared fold
                    # (projection-sound: each column folds independently;
                    # op/gen always load)
                    import numpy as _np

                    pieces2 = []
                    for path, kind, gen in file_map[b]:
                        sch_names = set(pq.read_schema(path).names)
                        want = [c for c in internal_names if c in sch_names]
                        if kind == "delta" and op_col in sch_names:
                            want = want + [op_col]
                        t = pq.read_table(path, columns=want, filters=kf)
                        cols = []
                        for f in target:
                            if f.name in sch_names:
                                cols.append(t.column(f.name).cast(f.type))
                            else:
                                cols.append(pa.nulls(t.num_rows, f.type))
                        op_arr = (
                            t.column(op_col).combine_chunks()
                            if kind == "delta" and op_col in sch_names
                            else pa.array([replace_op] * t.num_rows, pa.string())
                        )
                        pieces2.append(pa.table(
                            dict(zip(internal_names, cols))
                            | {op_col: op_arr,
                               "_dsxord": pa.array(
                                   _np.full(t.num_rows, gen, dtype="int64"))}
                        ))
                    if not pieces2:
                        continue
                    folded = _partial_fold(
                        pa.concat_tables(pieces2), key_cols, "_dsxord",
                        op_col, delete_op, replace_op, internal_names,
                        agg_spec=agg_spec,
                    )
                    merged = folded.filter(pc.not_equal(
                        folded.column(op_col).combine_chunks(),
                        pa.scalar(delete_op),
                    )).select(out_cols).cast(out_target)
                    if merged.num_rows:
                        yield from merged.to_batches()
                    continue
                pieces = []
                seen: list = []
                for path, kind, _gen in sorted(file_map[b], key=lambda x: -x[2]):
                    sch_names = set(pq.read_schema(path).names)
                    want = [c for c in internal_names if c in sch_names]
                    if kind == "delta" and op_col in sch_names:
                        want = want + [op_col]
                    # key pushdown: row-group stats prune + row filter at the
                    # Arrow scan, so non-matching rows never enter the cascade
                    # (merge keys exist in every layer since table creation)
                    t = pq.read_table(path, columns=want, filters=kf)
                    cols = []
                    for f in target:
                        if f.name in sch_names:
                            cols.append(t.column(f.name).cast(f.type))
                        else:
                            cols.append(pa.nulls(t.num_rows, f.type))
                    aligned = pa.table(cols, names=internal_names)
                    keys = [
                        pc.cast(aligned.column(k).combine_chunks(), pa.string())
                        for k in key_cols
                    ]
                    keys_t = (
                        keys[0] if len(keys) == 1
                        else pc.binary_join_element_wise(*keys, "\x1f")
                    )
                    mask = (
                        pc.invert(pc.is_in(keys_t, value_set=pa.chunked_array(seen)))
                        if seen else None
                    )
                    if kind == "delta":
                        not_del = pc.not_equal(
                            t.column(op_col).combine_chunks(), pa.scalar(delete_op)
                        )
                        mask = not_del if mask is None else pc.and_(mask, not_del)
                    pieces.append(aligned if mask is None else aligned.filter(mask))
                    seen.append(keys_t)
                merged = pa.concat_tables(pieces).select(out_cols).cast(out_target)
                if merged.num_rows:
                    yield from merged.to_batches()

        return self._run_bucket_tasks(items, sizes, read_merge, out_struct)

    # ----------------------------------------------------------------- writes

    def _check_source_types(self, src: DataFrame, snap: Snapshot) -> None:
        """Source columns may be NARROWER than the table (cast up in the
        plan — the post-widening steady state for feeds still emitting the
        old width); a WIDER or cross-family source must be rejected before a
        silent Catalyst narrowing corrupts values — the caller widens the
        table first (widen_columns / the engine's evolve step)."""
        by_name = {f.name: f.dataType for f in snap.schema.fields}
        for sf in src.schema.fields:
            want = by_name.get(sf.name)
            if want is None or sf.dataType == want:
                continue
            if is_type_widening(want, sf.dataType):
                raise ValueError(
                    f"source column {sf.name!r} is {sf.dataType.simpleString()} "
                    f"but the table stores {want.simpleString()}; widen the "
                    f"table first (LakeTable.widen_columns)"
                )
            # narrower-in-lattice sources cast up in the plan; any other
            # mismatch (timestamp_ntz vs timestamp, etc.) flows to the merge
            # kernel's Arrow normalization, as before widening existed

    def _write_data_files(self, df: DataFrame, snap: Snapshot) -> dict[str, list[dict]]:
        """Write df (must carry _dsx_bucket) as per-bucket parquet data files.

        Iceberg-writer style: each task writes its files directly with Arrow
        and returns ``(bucket, path, rows)`` DataFile entries; the snapshot
        JSON is the commit, so no Hadoop output-committer (tmp dirs, renames,
        permission chmods) runs in the hot path. (On local FS Hadoop's
        committer shells out a subprocess per partition dir —
        RawLocalFileSystem falls back to ``chmod``/``ls`` without native IO —
        which serializes badly at high parallelism; measured 4x anti-scaling
        at local[32] before this.) Files land under a staging dir keyed by a
        fresh uuid; only task-reported paths enter the manifest, so files from
        failed/retried tasks are orphans that ``vacuum`` removes.
        """
        staging_rel = os.path.join(_DATA, f"stage-{uuid.uuid4().hex}")
        staging = os.path.join(self.root, staging_rel)
        self.fs.makedirs(staging)
        flush_bytes = 128 << 20
        record_stats = os.environ.get("DSX_WRITE_STATS", "1") != "0"

        def write_partition(batches):
            import os as _os
            import uuid as _uuid

            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            states: dict[int, dict] = {}

            def flush(st):
                if st["buf"]:
                    st["writer"].write_table(pa.Table.from_batches(st["buf"]))
                    st["buf"], st["buf_bytes"] = [], 0

            bucket_idx = None
            keep_idx = None
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                if bucket_idx is None:
                    bucket_idx = batch.schema.get_field_index(_BUCKET_COL)
                    keep_idx = [i for i in range(batch.num_columns) if i != bucket_idx]
                bcol = batch.column(bucket_idx)
                for b in pc.unique(bcol).to_pylist():
                    sub = batch.filter(pc.equal(bcol, b)).select(keep_idx)
                    st = states.get(b)
                    if st is None:
                        name = f"b{b:05d}-{_uuid.uuid4().hex}.parquet"
                        path = _os.path.join(staging, name)
                        _os.makedirs(staging, exist_ok=True)
                        st = states[b] = {
                            "writer": pq.ParquetWriter(path, sub.schema, compression="snappy"),
                            "rel": _os.path.join(staging_rel, name),
                            "full": path,
                            "rows": 0,
                            "buf": [],
                            "buf_bytes": 0,
                        }
                    st["buf"].append(sub)
                    st["buf_bytes"] += sub.nbytes
                    st["rows"] += sub.num_rows
                    if st["buf_bytes"] >= flush_bytes:
                        flush(st)
            if states:
                import json as _json

                out = []
                for b, st in states.items():
                    flush(st)
                    st["writer"].close()
                    out.append({
                        "bucket": b, "path": st["rel"], "rows": st["rows"],
                        "stats": (_json.dumps(_footer_stats(st["full"]))
                                  if record_stats else None),
                    })
                yield pa.RecordBatch.from_pylist(
                    out,
                    schema=pa.schema(
                        [("bucket", pa.int32()), ("path", pa.string()),
                         ("rows", pa.int64()), ("stats", pa.string())]
                    ),
                )

        all_buckets = list(range(snap.n_buckets))
        n_tasks = min(snap.n_buckets, max(self.spark.sparkContext.defaultParallelism, 1))
        assign = _assign_buckets_lpt(all_buckets, None, n_tasks)
        entries = (
            df.withColumn(_PID_COL, _steer_expr(assign, _partition_magic(n_tasks)))
            .repartition(n_tasks, F.col(_PID_COL))
            .drop(_PID_COL)
            .mapInArrow(write_partition,
                        schema="bucket int, path string, rows long, stats string")
            .collect()
        )
        gen = snap.version + 1
        out: dict[str, list[dict]] = {}
        for r in sorted(entries, key=lambda r: (r["bucket"], r["path"])):
            if r["rows"]:
                entry = {"path": r["path"], "rows": r["rows"], "kind": "base", "gen": gen}
                if r["stats"]:
                    entry["stats"] = json.loads(r["stats"])
                out.setdefault(str(r["bucket"]), []).append(entry)
        return out

    def live_row_count(self, version: int | None = None) -> int:
        """Logical row count at a snapshot: a merged read on MoR tables
        (delta layers resolved), a manifest sum (no scan) otherwise."""
        snap = self.snapshot(version)
        if snap.has_deltas():
            return self.read(version).count()
        return snap.total_rows()

    # -------------------------------------------------------- changelog reads

    def read_changes(self, start_version: int,
                     end_version: int | None = None,
                     include_preimages: bool = False) -> DataFrame:
        """Incremental changelog read: the folded change rows committed in
        ``(start_version, end_version]`` (Iceberg changelog scan / Delta CDF
        parity — the "CDC-out" half of a CDC engine: downstream consumers
        re-derive the change stream from snapshots instead of re-tailing the
        source feed).

        Output columns: the table's payload columns (at ``end_version``'s
        schema; commits before a column was added carry NULL), plus
        ``_change_type`` (``'upsert'`` | ``'delete'``), ``_commit_version``,
        and ``_seq`` (the winning event's source sequence when the commit
        recorded one, else NULL).

        ``include_preimages=True`` switches to the full Delta-CDF vocabulary —
        ``'insert'`` | ``'update_preimage'`` | ``'update_postimage'`` |
        ``'delete'`` — where an update emits BOTH the old and new row and a
        delete carries the deleted row's payload (pre-image). This is what
        additive downstream maintenance (continuous aggregates, cdc/rollup.py)
        needs: subtract the pre-image's contribution, add the post-image's.
        Never-live delete markers are dropped (effective changes only). Cost:
        the delta fast path gains a per-commit join against the parent
        snapshot's state, pruned to the affected buckets — O(changes +
        affected-bucket rows), still never O(table).

        Cost model — classification is per BUCKET within each commit, because
        one MoR apply commit routinely mixes delta appends (most buckets) with
        jittered threshold compactions (a few):

        - bucket gained only **delta** layers → the delta files *are* the
          latest-per-key upserts+deletes of that commit: read them directly.
          Metadata-only planning, O(changes) scan, no shuffle — the hot path
          for every MoR apply epoch.
        - bucket gained only **base** files and lost none (``append()``, or a
          merge landing on an empty bucket) → every row is an insert: read the
          added files directly. Same O(changes) cost.
        - bucket was rewritten (CoW merge, ``overwrite()``, threshold
          compaction folded into an apply) → per-key state diff of that bucket
          between the two snapshots (one join, pruned to rewritten buckets).
          Deletes carry the pre-image payload; ``_seq`` is NULL.

        Pure-maintenance commits (``compact()``, ``add_columns()``) change no
        live rows and are skipped from the manifest alone. Delete markers for
        keys that were never live DO appear on the delta fast path (they are
        part of the folded change log); the diff path emits only effective
        state changes. Raises if a snapshot in the range was expired by
        ``vacuum()``.

        Precondition for ``include_preimages=True``: keyed-unique state —
        the table must be maintained through keyed merges (``apply_cdc`` /
        the engine), so that each key holds at most one live row per
        snapshot. An ``append()`` batch with duplicate keys, or an
        append-only table whose key falls back to the (non-unique)
        bucket key, multiplies the classification join's rows into inflated
        pre/post pairs — which would double-count in additive consumers
        like ContinuousAggregate. The plain (``include_preimages=False``)
        changelog has no such requirement.
        """
        end = self.current_version() if end_version is None else end_version
        if end is None:
            raise ValueError(f"no snapshot at {self.root}")
        if not 0 <= start_version <= end:
            raise ValueError(
                f"invalid changelog range ({start_version}, {end}]"
            )
        end_snap = self.snapshot(end)
        out_fields = list(end_snap.schema.fields) + [
            T.StructField("_change_type", T.StringType(), False),
            T.StructField("_commit_version", T.LongType(), False),
            T.StructField("_seq", T.LongType(), True),
        ]
        out_struct = T.StructType(out_fields)

        def _align(df: DataFrame) -> DataFrame:
            cols = []
            for f in out_fields:
                if f.name in df.columns:
                    cols.append(F.col(f.name))
                else:
                    cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            return df.select(*cols)

        parts: list[DataFrame] = []
        for v in range(start_version + 1, end + 1):
            try:
                cur = self.snapshot(v)
                parent = self.snapshot(v - 1)
            except FileNotFoundError as e:
                raise ValueError(
                    f"changelog for v{v} unavailable: snapshot expired "
                    f"(vacuum keep_last too small for this range)"
                ) from e
            plan = classify_commit(parent, cur)
            if plan is None:
                continue  # logical no-ops: no live-row change
            op_col, delete_op, seq_col = plan["op_col"], plan["delete_op"], plan["seq_col"]
            delta_paths = [os.path.join(self.root, p) for p in plan["delta"]]
            insert_paths = [os.path.join(self.root, p) for p in plan["insert"]]
            diff_buckets = plan["diff_buckets"]

            payload = [F.col(f.name) for f in cur.schema.fields]
            if delta_paths:
                # delta files hold payload + seq + op (written by the bucket
                # merge kernel); files predating a schema evolution read NULL
                # for the added columns via the explicit schema
                extra = [
                    T.StructField(seq_col, T.LongType()),
                    T.StructField(op_col, T.StringType()),
                ]
                scan_schema = T.StructType(
                    [f for f in cur.schema.fields if f.name not in (seq_col, op_col)]
                    + extra
                )
                df = self.spark.read.schema(scan_schema).parquet(*delta_paths)
                if include_preimages:
                    parts.append(_align(self._cdf_against_parent(
                        df, parent, cur, plan["delta_buckets"], v,
                        delete_flag=(F.col(op_col) == F.lit(delete_op)),
                        seq_expr=F.col(seq_col).cast("long"),
                    )))
                else:
                    parts.append(_align(df.select(
                        *payload,
                        F.when(F.col(op_col) == F.lit(delete_op), F.lit("delete"))
                        .otherwise(F.lit("upsert")).alias("_change_type"),
                        F.lit(v).cast("long").alias("_commit_version"),
                        F.col(seq_col).cast("long").alias("_seq"),
                    )))
            if insert_paths:
                df = self.spark.read.schema(cur.schema).parquet(*insert_paths)
                if include_preimages:
                    # append() rows can shadow same-key rows in older
                    # generations — classify those as update pairs, not inserts
                    parts.append(_align(self._cdf_against_parent(
                        df, parent, cur, plan["insert_buckets"], v,
                        delete_flag=F.lit(False),
                        seq_expr=F.lit(None).cast("long"),
                    )))
                else:
                    parts.append(_align(df.select(
                        *payload,
                        F.lit("upsert").alias("_change_type"),
                        F.lit(v).cast("long").alias("_commit_version"),
                        F.lit(None).cast("long").alias("_seq"),
                    )))
            if diff_buckets:
                parts.append(_align(self._diff_versions(
                    parent, cur, sorted(diff_buckets), v,
                    preimages=include_preimages,
                )))

        if not parts:
            return self.spark.createDataFrame([], out_struct)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _merge_key_cols(cur: Snapshot) -> list[str]:
        keys = [k for k in cur.properties.get("merge_keys", "").split(",") if k]
        return keys or [cur.bucket_key]

    def _cdf_against_parent(self, src: DataFrame, parent: Snapshot,
                            cur: Snapshot, buckets: list[int], v: int,
                            delete_flag, seq_expr) -> DataFrame:
        """Classify one commit's folded change rows against the parent
        snapshot's per-key state, emitting Delta-CDF rows: ``insert`` (key was
        absent), ``update_preimage`` + ``update_postimage`` (key existed),
        ``delete`` with the pre-image payload (key existed and the event is a
        delete), nothing for never-live delete markers. One left join, pruned
        to ``buckets`` — the commit's own affected buckets."""
        key_cols = self._merge_key_cols(cur)
        payload_names = [f.name for f in cur.schema.fields]
        prev = self.read(parent.version, buckets=buckets) if buckets else \
            self.spark.createDataFrame([], cur.schema)
        for f in cur.schema.fields:  # align pre-evolution reads
            if f.name not in prev.columns:
                prev = prev.withColumn(f.name, F.lit(None).cast(f.dataType))
        o = prev.select(
            F.lit(True).alias("_o_present"),
            *[F.col(c).alias(f"_o_{c}") for c in payload_names],
        )
        n = src.withColumn("_cdf_del", delete_flag).withColumn("_cdf_seq", seq_expr)
        cond = None
        for k in key_cols:
            c = F.col(k).eqNullSafe(F.col(f"_o_{k}"))
            cond = c if cond is None else cond & c
        j = n.join(o, on=cond, how="left")
        old_present = F.col("_o_present").isNotNull()

        def img(side: str, ct: str):
            cols = [
                (F.col(f"_o_{c}") if side == "o" else F.col(c)).alias(c)
                for c in payload_names
            ]
            return F.struct(*cols, F.lit(ct).alias("_change_type"))

        rows = (
            F.when(F.col("_cdf_del") & old_present, F.array(img("o", "delete")))
            .when(F.col("_cdf_del"), F.lit(None))       # never-live marker
            .when(~old_present, F.array(img("n", "insert")))
            .otherwise(F.array(img("o", "update_preimage"),
                               img("n", "update_postimage")))
        )
        return (
            j.select(F.explode(rows).alias("_r"), F.col("_cdf_seq"))
            .select(
                "_r.*",
                F.lit(v).cast("long").alias("_commit_version"),
                F.col("_cdf_seq").alias("_seq"),
            )
        )

    def _diff_versions(self, parent: Snapshot, cur: Snapshot,
                       buckets: list[int], v: int,
                       preimages: bool = False) -> DataFrame:
        """Effective per-key state diff of rewritten buckets between two
        consecutive snapshots: inserts/updates → 'upsert' (post-image),
        disappeared keys → 'delete' (pre-image); with ``preimages=True``,
        updates split into the Delta-CDF pre/post pair and inserts are
        labelled distinctly. One join, pruned to the rewritten buckets only —
        the bounded fallback for CoW commits, never the hot path. Assumes
        keyed-unique state (merge tables)."""
        key_cols = [k for k in cur.properties.get("merge_keys", "").split(",") if k]
        if not key_cols:
            key_cols = [cur.bucket_key]
        old = self.read(parent.version, buckets=buckets)
        for f in cur.schema.fields:  # align pre-evolution reads
            if f.name not in old.columns:
                old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
        old = old.select(*[F.col(f.name) for f in cur.schema.fields])
        new = self.read(cur.version, buckets=buckets)
        o = old.select(*[F.col(c).alias(f"_o_{c}") for c in old.columns])
        n = new.select(*[F.col(c).alias(f"_n_{c}") for c in new.columns])
        cond = None
        for k in key_cols:
            c = F.col(f"_n_{k}").eqNullSafe(F.col(f"_o_{k}"))
            cond = c if cond is None else cond & c
        j = n.join(o, on=cond, how="full_outer")
        nonkey = [f.name for f in cur.schema.fields if f.name not in key_cols]
        new_present = F.col(f"_n_{key_cols[0]}").isNotNull()
        old_present = F.col(f"_o_{key_cols[0]}").isNotNull()
        if nonkey:
            changed = ~F.struct(*[F.col(f"_n_{c}") for c in nonkey]).eqNullSafe(
                F.struct(*[F.col(f"_o_{c}") for c in nonkey])
            )
        else:
            changed = F.lit(False)
        kept = j.filter((~new_present) | (~old_present) | changed)
        if preimages:
            def img(side: str, ct: str):
                cols = [F.col(f"_{side}_{f.name}").alias(f.name)
                        for f in cur.schema.fields]
                return F.struct(*cols, F.lit(ct).alias("_change_type"))

            rows = (
                F.when(~old_present, F.array(img("n", "insert")))
                .when(~new_present, F.array(img("o", "delete")))
                .otherwise(F.array(img("o", "update_preimage"),
                                   img("n", "update_postimage")))
            )
            return kept.select(F.explode(rows).alias("_r")).select(
                "_r.*",
                F.lit(v).cast("long").alias("_commit_version"),
                F.lit(None).cast("long").alias("_seq"),
            )
        side = lambda c: F.when(new_present, F.col(f"_n_{c}")).otherwise(F.col(f"_o_{c}"))  # noqa: E731
        return kept.select(
            *[side(f.name).alias(f.name) for f in cur.schema.fields],
            F.when(new_present, F.lit("upsert")).otherwise(F.lit("delete")).alias("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
            F.lit(None).cast("long").alias("_seq"),
        )

    def append(self, df: DataFrame, properties: dict | None = None) -> Snapshot:
        snap = self.snapshot()
        if snap.has_deltas():
            # appended files would get the highest gen, so the merged read's
            # newest-gen-wins cascade would silently shadow same-key rows in
            # older layers — turning append into upsert. Refuse instead.
            raise ValueError(
                "append() on a snapshot with MoR delta layers would shadow "
                "same-key rows in older layers; run compact() first"
            )
        dfb = df.withColumn(_BUCKET_COL, self._bucket_expr(snap))
        new_files = self._write_data_files(dfb, snap)

        def _no_deltas(cur: Snapshot) -> None:
            if cur.has_deltas():
                raise CommitConflict(
                    "concurrent commit added MoR delta layers; append would "
                    "shadow same-key rows — compact() first"
                )

        return self._rebase_commit(
            snap,
            {b: ("extend", fl) for b, fl in new_files.items()},
            properties,
            operation="append",
            commutative=True,
            revalidate=_no_deltas,
        )

    def overwrite(self, df: DataFrame, properties: dict | None = None) -> Snapshot:
        snap = self.snapshot()
        dfb = df.withColumn(_BUCKET_COL, self._bucket_expr(snap))
        new_files = self._write_data_files(dfb, snap)
        # snapshot-isolation semantics: overwrite replaces the whole table, so
        # a rebase carries no concurrent files — retry unconditionally, except
        # when the layout changed (our files carry the old bucket modulus)
        for attempt in range(6):
            base = snap if attempt == 0 else self.snapshot()
            if base.n_buckets != snap.n_buckets or base.bucket_key != snap.bucket_key:
                raise CommitConflict(
                    f"table layout changed during overwrite (buckets "
                    f"{snap.n_buckets}->{base.n_buckets}); staged files are "
                    f"hashed with the old layout — re-run overwrite"
                )
            try:
                return self._commit(base, new_files, properties, operation="overwrite")
            except CommitConflict:
                if attempt == 5:
                    raise

    def _commit(
        self,
        parent: Snapshot,
        files: Mapping,
        properties: dict | None = None,
        schema: T.StructType | None = None,
        operation: str | None = None,
        n_buckets: int | None = None,
        touched: set[str] | None = None,
    ) -> Snapshot:
        """Publish ``files`` as the next snapshot. ``touched`` names the
        buckets whose file list changed vs ``parent``: only those get new
        manifest files written — untouched buckets REUSE the parent's
        manifest ref (Iceberg manifest-list reuse), so the metadata written
        per commit is O(touched buckets), not O(table). ``touched=None``
        (full rewrites: overwrite, rebucket) writes every bucket;
        ``touched=set()`` (metadata-only commits: add/widen/drop columns)
        writes none."""
        props = dict(parent.properties)
        props.update(properties or {})
        if operation is not None and "operation" not in (properties or {}):
            # per-commit tag (NOT inherited): lets read_changes() classify
            # commits (compact/add_columns are logical no-ops) without a scan
            props["operation"] = operation
        props["committed_at"] = time.time()
        parent_refs = parent.manifest_refs
        refs: dict[str, dict] = {}
        seed: dict[str, list[dict]] = {}
        for b in files:
            if (touched is not None and b not in touched
                    and parent_refs is not None and b in parent_refs):
                refs[b] = parent_refs[b]
                continue
            fl = files[b]
            if not fl:
                continue  # empty bucket: no manifest, no ref
            refs[b] = self._write_manifest(b, fl)
            seed[b] = list(fl)
        lazy = _LazyFiles(self.fs, os.path.join(self.root, _META), refs)
        lazy._cache.update(seed)  # just-written buckets: no re-read
        out_buckets = n_buckets or parent.n_buckets
        new = Snapshot(
            version=parent.version + 1,
            schema=schema or parent.schema,
            bucket_key=parent.bucket_key,
            n_buckets=out_buckets,
            files=lazy,
            properties=props,
            manifest_refs=refs,
        )
        # Storage form: a commit stores only the refs that CHANGED vs the
        # nearest full manifest list (cumulative delta), rewriting the full
        # list when the delta outgrows it — so a small epoch on a 4096-bucket
        # table writes O(touched) manifest-list bytes, not O(buckets).
        changed: dict[str, dict | None] = {}
        pr = parent.manifest_refs or {}
        for b in set(refs) | set(pr):
            if refs.get(b) is not pr.get(b) and refs.get(b) != pr.get(b):
                changed[b] = refs.get(b)
        payload = None
        if (parent.manifest_base is not None
                and parent.manifest_delta is not None
                and out_buckets == parent.n_buckets):
            delta = dict(parent.manifest_delta)
            delta.update(changed)
            if len(delta) <= max(64, out_buckets // 4):
                new.manifest_base = parent.manifest_base
                new.manifest_delta = delta
                payload = {
                    "version": new.version,
                    "schema": new.schema.jsonValue(),
                    "partition": {"kind": "bucket", "key": new.bucket_key,
                                  "n": new.n_buckets},
                    "manifests_base": parent.manifest_base,
                    "manifests_delta": {
                        b: (_enc_ref(b, r) if r is not None else None)
                        for b, r in delta.items()
                    },
                    "properties": props,
                }
        if payload is None:  # full rewrite (threshold hit / legacy / rebucket)
            new.manifest_base = new.version
            new.manifest_delta = {}
        self._publish(new, payload=payload)
        return new

    def _rebase_commit(
        self,
        parent: Snapshot,
        changes: dict[str, tuple[str, list[dict]]],
        properties: dict | None = None,
        schema: T.StructType | None = None,
        operation: str | None = None,
        commutative: bool = False,
        revalidate=None,
        max_retries: int = 5,
    ) -> Snapshot:
        """Optimistic-concurrency commit loop (Iceberg ``SnapshotProducer``
        retry parity; reference analog: DataX jobs assume exclusive sink
        ownership — concurrent-writer safety is a lake-table obligation the
        reference never had).

        ``changes`` maps bucket -> (mode, file entries) where mode is
        ``"extend"`` (append layers to the bucket's list) or ``"replace"``
        (swap the bucket's full file list). When :class:`CommitConflict` is
        raised — another writer published ``parent.version + 1`` first — the
        loop reloads the latest snapshot, validates the rebase is safe, and
        re-applies the same per-bucket changes on top of it:

        - ``commutative=True`` (plain appends): always rebases — extending a
          bucket's file list commutes with any concurrent commit.
        - ``commutative=False`` (CDC applies, compaction — results derived
          from the parent's file contents): rebases only if every touched
          bucket's file list is UNCHANGED between parent and current;
          otherwise the result would silently drop the concurrent writer's
          rows, so it raises and the caller must re-plan from fresh state.
          Untouched buckets always carry the concurrent writer's changes.

        Rebasing keeps the original layer ``gen`` numbers: a touched bucket
        being unchanged means its max gen is still below ours, so
        newest-gen-wins merge order is preserved. ``revalidate(cur)`` lets a
        caller veto a rebase on table-level state (e.g. append refuses if
        delta layers appeared).
        """
        base = parent
        touched = {str(b) for b in changes}
        while True:
            # overlay view: untouched buckets ride through by manifest REF —
            # their manifests are never parsed, and the commit writes only
            # the touched buckets' manifests (O(touched) metadata per commit)
            overlay = {}
            for b, (mode, fl) in changes.items():
                if mode == "extend":
                    overlay[b] = list(base.files.get(b, [])) + list(fl)
                else:
                    overlay[b] = list(fl)
            files = _OverlayFiles(base.files, overlay)
            try:
                return self._commit(base, files, properties, schema=schema,
                                    operation=operation, touched=touched)
            except CommitConflict:
                if max_retries <= 0:
                    raise
                max_retries -= 1
                cur = self.snapshot()
                # Layout guard (applies even to commutative appends): our data
                # files were bucket-hashed with the PARENT's modulus/key. If a
                # concurrent rebucket() changed the layout, rebasing would
                # commit old-modulus files under the new layout — full scans
                # would still see the rows, but bucket-pruned paths (lookup,
                # colocated CDC merges) would silently miss them.
                if (cur.n_buckets != parent.n_buckets
                        or cur.bucket_key != parent.bucket_key):
                    raise CommitConflict(
                        f"table layout changed under a concurrent commit "
                        f"(buckets {parent.n_buckets}->{cur.n_buckets}, key "
                        f"{parent.bucket_key!r}->{cur.bucket_key!r}); staged "
                        f"files are hashed with the old layout — re-plan and "
                        f"rewrite from the current snapshot"
                    )
                if not commutative:
                    pr = parent.manifest_refs or {}
                    cr = cur.manifest_refs or {}
                    for b in changes:
                        # identical manifest ref => bucket provably unchanged
                        # without parsing either manifest
                        if (parent.manifest_refs is not None
                                and cur.manifest_refs is not None
                                and pr.get(b, {}).get("path")
                                == cr.get(b, {}).get("path")):
                            continue
                        if cur.files.get(b, []) != parent.files.get(b, []):
                            raise CommitConflict(
                                f"bucket {b} changed under a concurrent commit "
                                f"(v{parent.version} -> v{cur.version}); re-plan "
                                f"from the current snapshot"
                            )
                if revalidate is not None:
                    revalidate(cur)
                base = cur

    # ------------------------------------------------------------------ MERGE

    def apply_cdc(
        self,
        source: DataFrame,
        key_cols: list[str],
        op_col: str = "op",
        seq_col: str | None = "seq",
        delete_op: str = "D",
        properties: dict | None = None,
    ) -> Snapshot:
        """Keyed CDC apply (MERGE semantics): a copy-on-write
        :meth:`apply_cdc_stats` that returns just the snapshot.

        ``source`` is a raw change batch (may hold many events per key):
        per key the newest event (by ``seq_col``; None = one event per key)
        wins, rows whose winning op is ``delete_op`` are dropped, and
        partial_update/aggregate tables fold columns by their merge mode.
        Only the change events cross the shuffle, steered by storage bucket;
        each Arrow bucket task reads its bucket's existing files directly,
        merges and writes the replacement — the storage-partitioned-join
        pattern (Iceberg SPJ) applied to MERGE, O(delta) shuffle per call.
        Buckets without events keep their files unchanged.
        """
        return self.apply_cdc_stats(
            source, key_cols, op_col, seq_col, delete_op, properties=properties,
        )[0]

    def apply_cdc_stats(
        self,
        source: DataFrame,
        key_cols: list[str],
        op_col: str = "op",
        seq_col: str | None = "seq",
        delete_op: str = "D",
        dirty_reason_col: str | None = None,
        quarantine_dir: str | None = None,
        properties: dict | None = None,
        pre_commit=None,
        write_mode: str = "cow",
        compact_threshold: int = 8,
    ) -> tuple[Snapshot, dict]:
        """Single-pass CDC apply: merge, per-bucket lineage, and dirty-event
        quarantine in ONE job over the source — the epoch feed is scanned
        once, and only the change events cross the shuffle.

        Events are repartitioned by bucket id; each Arrow task buffers its
        buckets' events, reads those buckets' existing parquet files from
        storage, runs the shared bucket kernel (:func:`_make_bucket_processor`)
        and writes a delta layer or a replacement base, reporting DataFile
        and lineage entries (events applied, min/max seq).

        ``source`` may carry malformed events tagged in ``dirty_reason_col``
        (NULL = valid); they are steered to a quarantine pseudo-bucket, written
        under ``quarantine_dir`` with a ``_dirty_reason`` column, counted per
        reason, and never merged. ``pre_commit(stats)`` runs after the job but
        BEFORE the snapshot commit — raise there to abort with no table
        mutation (error-limit breaker), or return a dict of extra snapshot
        properties (e.g. max_applied_seq). Returns (snapshot, stats).
        """
        snap = self.snapshot()
        bucket = self._bucket_expr(snap)
        if dirty_reason_col is not None:
            bucket = F.when(F.col(dirty_reason_col).isNull(), bucket).otherwise(F.lit(-1))
        src = source.withColumn(
            _BUCKET_COL, F.coalesce(bucket, F.lit(-1)).cast("int")
        )
        if seq_col is None:
            seq_col = "_dsx_seq"
            src = src.withColumn(seq_col, F.lit(0).cast("long"))
        staging_rel = os.path.join(_DATA, f"stage-{uuid.uuid4().hex}")
        staging = os.path.join(self.root, staging_rel)
        self.fs.makedirs(staging)
        if quarantine_dir:
            self.fs.makedirs(quarantine_dir)

        payload_cols = [f.name for f in snap.schema.fields]
        # steer every table bucket: which are touched is only known post-job
        buckets = list(range(snap.n_buckets))
        bucket_files = {
            b: [
                (os.path.join(self.root, f["path"]), f.get("kind", "base"),
                 f.get("gen", 0))
                for f in snap.files[str(b)]
            ]
            for b in buckets
            if str(b) in snap.files
        }
        extra_cols = [F.col(dirty_reason_col)] if dirty_reason_col else []
        self._check_source_types(src, snap)
        src_types = {f.name: f.dataType for f in src.schema.fields}
        src_aligned = src.select(
            *[
                _aligned_src_col(f.name, f, src_types)
                for f in snap.schema.fields
            ],
            F.col(seq_col).cast("long").alias(seq_col),
            F.col(op_col),
            F.col(_BUCKET_COL),
            *extra_cols,
        )
        # Exact bucket->task steering (see module header): task count = one
        # balanced wave over the cores; per-task cost model = existing bucket
        # rows (to read+rewrite) — LPT keeps the hottest bucket from sharing a
        # task with other big ones.
        sizes = {
            b: sum(f["rows"] for f in snap.files.get(str(b), ())) + 1 for b in buckets
        }
        steered = list(buckets)
        if dirty_reason_col:
            steered.append(-1)
            sizes[-1] = 1
        n_tasks = min(len(steered), max(self.spark.sparkContext.defaultParallelism, 1))
        process_bucket = _make_bucket_processor(
            payload_cols, key_cols, seq_col, op_col, delete_op,
            write_mode, compact_threshold, staging, staging_rel,
            merge_mode=_merge_mode_of(snap), replace_op=_replace_op_of(snap),
            agg_spec=_agg_spec_of(snap),
        )
        # Near-uniform buckets: ignore sizes so the assignment (and thus the
        # steering map literal) is identical across epochs — the projected
        # expression's codegen and plan fragments get cache hits instead of a
        # recompile per epoch. Size-aware LPT only when real skew exists.
        vals = [sizes[b] for b in buckets] or [1]
        balanced = max(vals) <= 2 * (sum(vals) / len(vals))
        assign = _assign_buckets_lpt(steered, None if balanced else sizes, n_tasks)
        magic = _partition_magic(n_tasks)

        def merge_partition(batches):
            import os as _os
            import uuid as _uuid

            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            per_bucket: dict[int, list] = {}
            bucket_idx = None
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                if bucket_idx is None:
                    bucket_idx = batch.schema.get_field_index(_BUCKET_COL)
                bcol = batch.column(bucket_idx)
                for b in pc.unique(bcol).to_pylist():
                    per_bucket.setdefault(b, []).append(batch.filter(pc.equal(bcol, b)))
            if not per_bucket:
                return

            out = []
            for b, ev_batches in per_bucket.items():
                events = pa.Table.from_batches(ev_batches)

                if b == -1:
                    # quarantine pseudo-bucket: persist + count per reason
                    qcols = payload_cols + [seq_col, op_col, dirty_reason_col]
                    qt = events.select(qcols).rename_columns(
                        payload_cols + [seq_col, op_col, "_dirty_reason"]
                    )
                    _os.makedirs(quarantine_dir, exist_ok=True)
                    pq.write_table(
                        qt,
                        _os.path.join(quarantine_dir, f"q-{_uuid.uuid4().hex}.parquet"),
                        compression="snappy",
                    )
                    for gr in qt.group_by("_dirty_reason").aggregate(
                        [("_dirty_reason", "count")]
                    ).to_pylist():
                        out.append(
                            {
                                "bucket": -1,
                                "path": None,
                                "rows": gr["_dirty_reason_count"],
                                "events": 0,
                                "min_seq": None,
                                "max_seq": None,
                                "reason": gr["_dirty_reason"],
                                "kind": None,
                            }
                        )
                    continue

                ev_schema = events.schema
                pay_fields = [ev_schema.field(c) for c in payload_cols]
                # one normalized schema (nullable, no metadata) for concat
                norm_schema = pa.schema(
                    [pa.field(f.name, f.type) for f in pay_fields]
                    + [pa.field(seq_col, pa.int64()), pa.field(op_col, pa.string())]
                )
                ev = events.select(payload_cols + [seq_col, op_col]).cast(norm_schema)
                out.extend(process_bucket(b, ev, bucket_files.get(b, [])))
            if out:
                yield pa.RecordBatch.from_pylist(
                    out, schema=_arrow_schema_for(_ENTRY_STRUCT))

        entries = (
            src_aligned.withColumn(_PID_COL, _steer_expr(assign, magic))
            .repartition(n_tasks, F.col(_PID_COL))
            .drop(_PID_COL)
            .mapInArrow(merge_partition, schema=_ENTRY_STRUCT)
            .collect()
        )
        new_files, stats = _collect_apply_entries(entries, snap.version + 1)
        return self._finish_apply(
            snap, new_files, stats, properties, pre_commit, key_cols, op_col,
            delete_op, seq_col=seq_col,
        )

    def apply_cdc_files(
        self,
        feed_files: dict[int | None, list[str]],
        key_cols: list[str],
        op_col: str = "op",
        seq_col: str = "seq",
        delete_op: str = "D",
        arrow_validator=None,
        quarantine_dir: str | None = None,
        properties: dict | None = None,
        pre_commit=None,
        write_mode: str = "mor",
        compact_threshold: int = 8,
    ) -> tuple[Snapshot, dict]:
        """Zero-shuffle ALIGNED apply: the change feed is key-partitioned with
        the same hash and modulus as the table's buckets (a key-partitioned
        binlog — Kafka keyed topic, OTS PK shards), so each task reads its
        buckets' shard files directly and merges locally. This is the
        storage-partitioned-join idea applied to MERGE: no scan job, no
        exchange, and no JVM→Python transfer of the epoch — the only bytes
        moved are the shard parquet reads and the delta/base writes.

        ``feed_files`` maps bucket id -> shard parquet paths; the ``None``
        key holds files whose shard key was NULL (rows with a NULL merge key
        — quarantined wholesale). ``arrow_validator(table) -> reason array``
        (see cdc.merge.make_arrow_validator) tags dirty events. Returns
        (snapshot, stats) exactly like :meth:`apply_cdc_stats`.
        """
        snap = self.snapshot()
        staging_rel = os.path.join(_DATA, f"stage-{uuid.uuid4().hex}")
        staging = os.path.join(self.root, staging_rel)
        self.fs.makedirs(staging)
        if quarantine_dir:
            self.fs.makedirs(quarantine_dir)

        payload_cols = [f.name for f in snap.schema.fields]
        target = _arrow_schema_for(snap.schema)
        buckets = sorted(int(b) for b in feed_files if b is not None)
        # manifests loaded only for the feed's shard buckets
        bucket_files = {
            int(b): [
                (os.path.join(self.root, f["path"]), f.get("kind", "base"),
                 f.get("gen", 0))
                for f in snap.files[str(b)]
            ]
            for b in buckets
            if str(b) in snap.files
        }
        null_files = list(feed_files.get(None, []))
        feed_map = {int(b): list(feed_files[b]) for b in buckets}
        if null_files:
            feed_map[-1] = null_files
        steered = list(buckets) + ([-1] if null_files else [])
        if not steered:
            return self._finish_apply(
                snap, {}, {"lineage": {}, "dirty": {}, "dirty_total": 0,
                           "events_total": 0, "max_applied_seq": None},
                properties, pre_commit, key_cols, op_col, delete_op,
                seq_col=seq_col,
            )
        # cost model: existing rows to maybe-rewrite + feed bytes (~200 B/row)
        sizes = {
            b: sum(f["rows"] for f in snap.files.get(str(b), ()))
            + sum(self.fs.getsize(p) for p in feed_map[b]) // 200
            + 1
            for b in steered
        }
        process_bucket = _make_bucket_processor(
            payload_cols, key_cols, seq_col, op_col, delete_op,
            write_mode, compact_threshold, staging, staging_rel,
            merge_mode=_merge_mode_of(snap), replace_op=_replace_op_of(snap),
            agg_spec=_agg_spec_of(snap),
        )
        qdir = quarantine_dir

        def aligned_apply(my):
            import os as _os
            import uuid as _uuid

            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            out = []
            for b in my:
                tabs = []
                for p in feed_map[b]:
                    t = pq.read_table(p)
                    cols = []
                    for f in target:
                        if t.schema.get_field_index(f.name) >= 0:
                            cols.append(t.column(f.name).cast(f.type))
                        else:  # pre-evolution shard file lacks the column
                            cols.append(pa.nulls(t.num_rows, f.type))
                    cols.append(t.column(seq_col).cast(pa.int64()))
                    cols.append(t.column(op_col).cast(pa.string()))
                    tabs.append(
                        pa.table(cols, names=payload_cols + [seq_col, op_col])
                    )
                ev_all = pa.concat_tables(tabs)

                reason = arrow_validator(ev_all) if arrow_validator else None
                if b == -1:
                    # NULL-shard rows are dirty by construction (NULL key):
                    # quarantine them even with no validator installed —
                    # they must never be silently dropped
                    if reason is None:
                        reason = pa.nulls(ev_all.num_rows, pa.string())
                    reason = pc.fill_null(reason, "null_key")
                ev = ev_all
                if reason is not None:
                    dirty_mask = pc.is_valid(reason)
                    n_dirty = pc.sum(pc.cast(dirty_mask, pa.int64())).as_py() or 0
                    if n_dirty:
                        qt = ev_all.filter(dirty_mask).append_column(
                            "_dirty_reason", reason.filter(dirty_mask)
                        )
                        if qdir:
                            _os.makedirs(qdir, exist_ok=True)
                            pq.write_table(
                                qt,
                                _os.path.join(qdir, f"q-{_uuid.uuid4().hex}.parquet"),
                                compression="snappy",
                            )
                        vc = pc.value_counts(reason.filter(dirty_mask))
                        for r in vc.to_pylist():
                            out.append(
                                {
                                    "bucket": -1, "path": None,
                                    "rows": r["counts"], "events": 0,
                                    "min_seq": None, "max_seq": None,
                                    "reason": r["values"], "kind": None,
                                }
                            )
                        ev = ev_all.filter(pc.invert(dirty_mask))
                if b != -1 and ev.num_rows:
                    out.extend(process_bucket(b, ev, bucket_files.get(b, [])))
            if out:
                yield pa.RecordBatch.from_pylist(
                    out, schema=_arrow_schema_for(_ENTRY_STRUCT))

        entries = self._run_bucket_tasks(
            steered, sizes, aligned_apply, _ENTRY_STRUCT).collect()
        new_files, stats = _collect_apply_entries(entries, snap.version + 1)
        return self._finish_apply(
            snap, new_files, stats, properties, pre_commit, key_cols, op_col,
            delete_op, seq_col=seq_col,
        )

    def _finish_apply(self, snap, new_files, stats, properties, pre_commit,
                      key_cols, op_col, delete_op, seq_col="seq") -> tuple[Snapshot, dict]:
        extra = pre_commit(stats) if pre_commit is not None else None
        props = dict(properties or {})
        props.update(extra or {})
        # identifier-field metadata so merge-on-read scans can resolve layers
        props.setdefault("merge_keys", ",".join(key_cols))
        props.setdefault("merge_op_col", op_col)
        props.setdefault("merge_delete_op", delete_op)
        props.setdefault("merge_seq_col", seq_col)
        changes: dict[str, tuple[str, list[dict]]] = {}
        for b, info in stats["lineage"].items():
            fl = new_files.get(b, [])
            if info.get("kind") == "delta":
                changes[b] = ("extend", fl)  # MoR: append the delta layer
            else:
                changes[b] = ("replace", fl)  # base rewrite replaces (may clear)
        return self._rebase_commit(snap, changes, props, operation="apply_cdc"), stats

    def compact(self, buckets: Iterable[int] | None = None,
                properties: dict | None = None,
                sort_by: list[str] | None = None,
                max_rows_per_file: int | None = None) -> Snapshot:
        """Fold each bucket's delta layers into one fresh base file (Iceberg
        ``rewrite_data_files`` parity) — a maintenance job to run off the
        ingest path. Buckets without deltas are untouched; reads of the new
        snapshot take the fast non-merging scan path again.

        ``sort_by`` turns this into a CLUSTERING rewrite (Delta
        ``OPTIMIZE ... ZORDER BY`` / Iceberg sort-order rewrite): every
        selected bucket — deltas or not — is merged, sorted by the given
        columns, and (with ``max_rows_per_file``) split into range-disjoint
        files. The zone maps the manifest records per file become tight and
        non-overlapping on the sort columns, so ``read(where=...)`` skips
        all but the matching range slices — at 4096 buckets × many
        generations this is the difference between opening every file of a
        bucket and opening one. Layout-only: live rows are unchanged
        (tests assert bit-equality with the pre-clustering read)."""
        snap = self.snapshot()
        key_cols = [k for k in snap.properties.get("merge_keys", "").split(",") if k]
        op_col = snap.properties.get("merge_op_col", "op")
        delete_op = snap.properties.get("merge_delete_op", "D")
        wanted = None if buckets is None else {int(b) for b in buckets}
        rewrite_all = bool(sort_by or max_rows_per_file)
        if snap.manifest_refs is not None:
            # pick delta-holding buckets from the manifest-list summaries —
            # no per-bucket manifest parsed for buckets we won't rewrite
            todo = sorted(
                int(b) for b, r in snap.manifest_refs.items()
                if (wanted is None or int(b) in wanted)
                and (rewrite_all or r["deltas"])
            )
        else:
            todo = sorted(
                int(b) for b, fl in snap.files.items()
                if (wanted is None or int(b) in wanted)
                and (rewrite_all or any(f.get("kind", "base") == "delta" for f in fl))
                and fl
            )
        if not todo:
            return snap
        if not key_cols:
            raise ValueError("snapshot has delta layers but no merge_keys property")

        staging_rel = os.path.join(_DATA, f"stage-{uuid.uuid4().hex}")
        staging = os.path.join(self.root, staging_rel)
        self.fs.makedirs(staging)
        payload_cols = [f.name for f in snap.schema.fields]
        target = _arrow_schema_for(snap.schema)
        bucket_files = {
            int(b): [
                (os.path.join(self.root, f["path"]), f.get("kind", "base"),
                 f.get("gen", 0))
                for f in snap.files[str(b)]
            ]
            for b in todo
            if str(b) in snap.files
        }
        sizes = {b: sum(f["rows"] for f in snap.files[str(b)]) + 1 for b in todo}
        seq_col = "_cseq"
        process_bucket = _make_bucket_processor(
            payload_cols, key_cols, seq_col, op_col, delete_op,
            "cow", 1, staging, staging_rel,
            sort_by=sort_by, max_rows_per_file=max_rows_per_file,
            merge_mode=_merge_mode_of(snap), replace_op=_replace_op_of(snap),
            agg_spec=_agg_spec_of(snap),
        )

        def compact_task(my):
            import pyarrow as pa

            out = []
            empty = pa.table(
                {
                    **{f.name: pa.nulls(0, f.type) for f in target},
                    seq_col: pa.nulls(0, pa.int64()),
                    op_col: pa.nulls(0, pa.string()),
                }
            )
            for b in my:
                out.extend(process_bucket(b, empty, bucket_files.get(b, [])))
            if out:
                yield pa.RecordBatch.from_pylist(
                    out, schema=_arrow_schema_for(_ENTRY_STRUCT))

        entries = self._run_bucket_tasks(
            todo, sizes, compact_task, _ENTRY_STRUCT).collect()
        new_files, _stats = _collect_apply_entries(entries, snap.version + 1)
        props = dict(properties or {})
        props["compacted_buckets"] = len(todo)
        if sort_by:
            props["clustered_by"] = ",".join(sort_by)
        if max_rows_per_file:
            props["max_rows_per_file"] = str(int(max_rows_per_file))
        return self._rebase_commit(
            snap,
            {str(b): ("replace", new_files.get(str(b), [])) for b in todo},
            props,
            operation="compact",
        )

    def merge(
        self,
        source: DataFrame,
        key_cols: list[str],
        op_col: str = "op",
        delete_op: str = "D",
        properties: dict | None = None,
    ) -> Snapshot:
        """Classic MERGE API: ``source`` holds ONE row per key with an op column

        (the pre-deduped form — datax_spark.cdc.merge.dedupe_latest). Runs
        through ``apply_cdc``, i.e. the same Arrow bucket kernel as every
        other keyed apply.
        """
        seq = "seq" if "seq" in source.columns else None
        return self.apply_cdc(
            source, key_cols, op_col=op_col, seq_col=seq, delete_op=delete_op,
            properties=properties,
        )

    # --------------------------------------------------------- schema evolution

    def rebucket(self, n_buckets: int, properties: dict | None = None) -> Snapshot:
        """Bucket-count evolution: rewrite the table into ``n_buckets`` hash
        buckets in ONE distributed pass and commit a snapshot carrying the new
        layout (Iceberg partition-spec evolution + ``rewrite_data_files``
        folded into a commit; the reference has no table format at all —
        its ODPS writer just targets whatever partitioning the sink declares,
        `odpswriter/doc/odpswriter.md`).

        The growth path for a table that outlives its initial layout: buckets
        sized for 10^8 rows overflow task memory at 10^10 — rebucketing 64→4096
        keeps the per-bucket merge's Arrow working set bounded while the
        aligned zero-shuffle apply keeps working (the CDC engine re-checks
        shard/bucket alignment per epoch and falls back to the fused route
        for feeds still sharded on the old modulus).

        MoR delta layers are resolved by the merged read and folded into the
        fresh base files (a rebucket is also a full compaction). Readers of
        old snapshots are unaffected (bucket ids are resolved per snapshot).
        Concurrency: derived from the full parent state, so a lost commit
        race cannot be rebased — raises :class:`CommitConflict`; re-run.
        """
        snap = self.snapshot()
        if n_buckets == snap.n_buckets:
            return snap
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        shadow = Snapshot(
            version=snap.version,
            schema=snap.schema,
            bucket_key=snap.bucket_key,
            n_buckets=n_buckets,
            files={},
            properties=snap.properties,
        )
        df = self.read()  # merged read: resolves delta layers
        dfb = df.withColumn(_BUCKET_COL, self._bucket_expr(shadow))
        new_files = self._write_data_files(dfb, shadow)
        props = dict(properties or {})
        props["rebucketed_from"] = snap.n_buckets
        # full rewrite: no surviving file can hold dropped-column bytes
        props["tombstoned_cols"] = {}
        try:
            return self._commit(snap, new_files, props,
                                operation="rebucket", n_buckets=n_buckets)
        except CommitConflict as e:
            raise CommitConflict(
                "concurrent commit landed during rebucket; re-run rebucket "
                "from the current snapshot"
            ) from e

    def add_columns(self, new_fields: list[T.StructField], properties: dict | None = None) -> Snapshot:
        """Add columns without rewriting any data file (metadata-only commit).
        Conflict-safe: a lost race recomputes the union schema on the winner's
        snapshot (column adds commute). Re-adding a name dropped by
        :meth:`drop_columns` is refused while its tombstone is live — with
        name-based column mapping the old files' bytes would silently
        resurrect as the "new" column's values (Iceberg prevents this with
        field ids; we prevent it with tombstones cleared on full rewrite)."""
        for attempt in range(6):
            snap = self.snapshot()
            tombs = snap.properties.get("tombstoned_cols") or {}
            clash = [f.name for f in new_fields if f.name in tombs]
            if clash:
                raise ValueError(
                    f"column(s) {clash} were dropped but still exist in data "
                    f"files; rebucket() first (a full rewrite — the only "
                    f"operation that clears tombstones; compact() rewrites "
                    f"only delta-holding buckets, so it cannot)"
                )
            existing = {f.name for f in snap.schema.fields}
            added = [f for f in new_fields if f.name not in existing]
            if not added:
                return snap
            schema = T.StructType(list(snap.schema.fields) + added)
            try:
                return self._commit(snap, snap.files, properties,
                                    schema=schema, operation="add_columns",
                                    touched=set())
            except CommitConflict:
                if attempt == 5:
                    raise

    def widen_columns(self, fields, properties: dict | None = None) -> Snapshot:
        """Type-widening schema evolution: promote existing columns along the
        lossless lattice (byte<short<int<long, float<double) in a
        METADATA-ONLY commit — no data file is rewritten (Iceberg type
        promotion). The reference can cast freely across its 8 scalar types
        because every record is re-materialized per job (ColumnCast.java:
        92-122, CommonRdbmsReader.buildRecord:241-350); a lake table instead
        keeps old files at their narrow physical type and every read path
        casts up: Spark's parquet scan widens natively from the snapshot
        schema, the Arrow merge kernel casts each layer to the target schema,
        and the changelog stream aligns per file. Narrowing or cross-family
        changes raise ValueError. ``fields`` is a list of StructFields or a
        ``{name: DataType}`` dict. Key columns may be widened: bucket/merge
        hashing casts keys through string, so int32(5) and int64(5) land
        identically."""
        if isinstance(fields, dict):
            wanted = dict(fields)
        else:
            wanted = {f.name: f.dataType for f in fields}
        for attempt in range(6):
            snap = self.snapshot()
            by_name = {f.name: f for f in snap.schema.fields}
            todo: dict[str, T.DataType] = {}
            for name, dst in wanted.items():
                cur = by_name.get(name)
                if cur is None:
                    raise ValueError(f"cannot widen unknown column {name!r}")
                if cur.dataType == dst:
                    continue  # already there (idempotent re-run / lost race)
                if not is_type_widening(cur.dataType, dst):
                    raise ValueError(
                        f"{name}: {cur.dataType.simpleString()} -> "
                        f"{dst.simpleString()} is not a lossless widening "
                        f"(allowed: byte<short<int<long, float<double)"
                    )
                todo[name] = dst
            if not todo:
                return snap
            schema = T.StructType([
                T.StructField(f.name, todo.get(f.name, f.dataType), True)
                for f in snap.schema.fields
            ])
            try:
                return self._commit(snap, snap.files, properties,
                                    schema=schema, operation="widen_columns",
                                    touched=set())
            except CommitConflict:
                if attempt == 5:
                    raise

    def drop_columns(self, names: list[str], properties: dict | None = None) -> Snapshot:
        """Drop columns without rewriting any data file (metadata-only commit,
        Iceberg drop-column parity). The bytes stay in existing files until a
        FULL rewrite passes over them (:meth:`rebucket`; :meth:`compact` only
        rewrites buckets holding deltas, so it does NOT reliably purge dropped
        bytes); every read path projects by the snapshot schema, so dropped
        columns never surface. Guards: the bucket key and the merge key
        columns cannot be dropped. Each dropped name leaves a tombstone that
        blocks re-adding it while old files could resurrect its values; only
        :meth:`rebucket` clears tombstones."""
        snap0 = self.snapshot()
        protected = {snap0.bucket_key}
        protected |= {k for k in snap0.properties.get("merge_keys", "").split(",") if k}
        bad = [n for n in names if n in protected]
        if bad:
            raise ValueError(f"cannot drop key column(s) {bad}")
        for attempt in range(6):
            snap = self.snapshot()
            present = {f.name for f in snap.schema.fields}
            todo = [n for n in names if n in present]
            if not todo:
                return snap
            schema = T.StructType([f for f in snap.schema.fields if f.name not in todo])
            if not schema.fields:
                raise ValueError("cannot drop every column")
            tombs = dict(snap.properties.get("tombstoned_cols") or {})
            tombs.update({n: snap.version + 1 for n in todo})
            props = dict(properties or {})
            props["tombstoned_cols"] = tombs
            try:
                return self._commit(snap, snap.files, props,
                                    schema=schema, operation="drop_columns",
                                    touched=set())
            except CommitConflict:
                if attempt == 5:
                    raise

    # ------------------------------------------------------------- maintenance

    def history(self) -> list[dict]:
        meta = os.path.join(self.root, _META)
        out = []
        for n in sorted(self.fs.listdir(meta)):
            if n.startswith("v") and n.endswith(".json"):
                d = json.loads(self.fs.read_text(os.path.join(meta, n)))
                if "files" in d:  # legacy monolithic snapshot
                    rows = sum(x["rows"] for fl in d["files"].values() for x in fl)
                    nfiles = sum(len(fl) for fl in d["files"].values())
                else:  # segmented: summaries come from the manifest list
                    s = self.snapshot(d["version"])
                    rows = s.total_rows()
                    nfiles = sum(r["files"] for r in s.manifest_refs.values())
                out.append(
                    {
                        "version": d["version"],
                        "properties": d.get("properties", {}),
                        "rows": rows,
                        "files": nfiles,
                    }
                )
        return out

    def vacuum(self, keep_last: int = 2) -> int:
        """Expire old snapshots: delete data files referenced only by expired
        snapshots AND the expired snapshot metadata itself — the snapshot
        JSONs plus any per-bucket manifest file no kept snapshot references
        (orphans from expired versions and from lost commit races). Returns
        the number of data files removed."""
        meta = os.path.join(self.root, _META)
        versions = sorted(
            int(n[1:-5])
            for n in self.fs.listdir(meta)
            if n.startswith("v") and n.endswith(".json")
        )
        keep = set(versions[-keep_last:])
        live: set[str] = set()
        live_manifests: set[str] = set()
        bases: set[int] = set()
        for v in sorted(keep):
            s = self.snapshot(v)
            live |= {f["path"] for fl in s.files.values() for f in fl}
            if s.manifest_refs is not None:
                live_manifests |= {r["path"] for r in s.manifest_refs.values()}
            if s.manifest_base is not None and s.manifest_base not in keep:
                # a delta-form snapshot resolves through its FULL base's
                # JSON: that list must outlive it (the base's data files and
                # superseded manifests may still be collected). It moves to
                # the b*.json side name — see _base_name — so live v*.json
                # stay contiguous and reading the base VERSION itself stays
                # an expired-snapshot error.
                bases.add(s.manifest_base)
        removed = 0
        data_root = os.path.join(self.root, _DATA)
        for full in self.fs.walk_files(data_root):
            rel = os.path.relpath(full, self.root)
            if full.endswith(".parquet") and rel not in live:
                self.fs.remove(full)
                removed += 1
        for v in bases:
            dst = os.path.join(meta, _base_name(v))
            if not self.fs.isfile(dst):
                self.fs.write_text(
                    dst, self.fs.read_text(os.path.join(meta, _snapshot_name(v))))
        for v in versions:
            if v not in keep:
                self.fs.remove(os.path.join(self.root, _META, _snapshot_name(v)))
        for n in self.fs.listdir(meta):
            if n.startswith("m-") and n.endswith(".json") and n not in live_manifests:
                self.fs.remove(os.path.join(meta, n))
            elif (n.startswith("b") and n.endswith(".json")
                    and n[1:-5].isdigit() and int(n[1:-5]) not in bases):
                # side-name base from an earlier vacuum, no longer any kept
                # snapshot's manifest-list base
                self.fs.remove(os.path.join(meta, n))
        try:  # refresh the advisory hint (heals one stale/corrupt/below-window)
            self.fs.write_text(
                os.path.join(meta, _HINT_NAME), str(max(versions)))
        except OSError:
            pass
        return removed
