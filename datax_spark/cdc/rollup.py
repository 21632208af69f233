"""Continuous aggregate: a rollup LakeTable maintained *incrementally* from
the base table's changelog instead of recomputed per refresh.

This is the materialized-view-maintenance half of a CDC engine
(TimescaleDB continuous aggregates / Materialize-style delta maintenance,
re-expressed over the lake): the base transcripts table absorbs keyed
upserts/deletes at 10^10-event scale, and a derived rollup (e.g. turns and
tool-calls per conversation-day) follows it at O(changes) cost per refresh
— never O(base table).

Correctness hinges on pre-images: an UPDATE must *subtract* the old row's
contribution and *add* the new one (the row may migrate between groups).
``LakeTable.read_changes(..., include_preimages=True)`` (Delta CDF parity:
``insert`` / ``update_preimage`` / ``update_postimage`` / ``delete``) supplies
exactly that, so maintenance is a signed aggregation::

    sign = +1 for insert / update_postimage
    sign = -1 for delete / update_preimage
    delta[g] = sum(sign * measure)  per group g

followed by one keyed MERGE of the affected groups into the rollup table.

Delivery contract — **exactly-once**, stronger than ChangelogFollower's
at-least-once: additive deltas are NOT idempotent (replaying a window after a
crash would double-count), so the consumed base version is recorded in the
rollup table's own commit properties (``agg_base_version``) — the delta apply
and the watermark advance are ONE atomic snapshot publish. A crash before the
commit replays the window against unchanged state; a crash after it is
observed via the recorded version and skipped.

Scale shape (the plan at 10^10 base rows):
  - ``read_changes`` delta fast path scans only the window's change files;
    the pre-image join reads only the affected base buckets at the parent
    version (bucket-pruned merged read).
  - the signed aggregation is a map-side-combined hash agg over O(changes).
  - the rollup read is pruned to the affected groups' buckets; the MERGE
    (``apply_cdc``) rewrites only those buckets.
  Nothing in the refresh touches unaffected base or rollup data.

Reference contract: this generalizes the reference's "sync job recomputes the
target" model (JobContainer full reader→writer pass per run) the same way
IncrementalSync does for mirrors, but for *aggregates*, where idempotent
re-application is not available and exactly-once bookkeeping is required.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F, types as T

from datax_spark.lake.table import LakeTable

_PLUS = ("insert", "update_postimage")
_MINUS = ("delete", "update_preimage")


@dataclass
class AggSpec:
    """Declarative rollup definition over the base table's payload.

    ``group_by``: out-column → SQL expression over base columns (the GROUP BY
    keys, e.g. ``{"day": "date_trunc('day', ts)", "role": "role"}``).
    ``sums``: out-column → SQL expression whose per-group SUM is maintained.
    Only self-decomposable aggregates (SUM / COUNT; AVG derives as sum/count)
    can be maintained from deltas — MIN/MAX would need the full group on a
    retraction and are deliberately not offered. NULL measures contribute 0:
    the maintained value is ``SUM(COALESCE(expr, 0))`` (an all-NULL group
    reads 0, not NULL — additive maintenance cannot distinguish "never
    contributed" from "contributed zero", so the semantics say so up front).
    ``count_col``: maintained live-row count per group; doubles as the
    group-liveness test (count 0 → the group row is deleted).
    """

    group_by: dict[str, str]
    sums: dict[str, str] = field(default_factory=dict)
    count_col: str = "n_rows"

    def group_cols(self) -> list[str]:
        return list(self.group_by)

    def out_fields(self, base_schema: T.StructType, spark) -> T.StructType:
        """Rollup schema, with expression types resolved against the base."""
        probe = spark.createDataFrame([], base_schema)
        sel = [F.expr(e).alias(c) for c, e in self.group_by.items()]
        sel += [F.expr(e).alias(c) for c, e in self.sums.items()]
        resolved = probe.select(*sel).schema
        fields = [T.StructField(f.name, f.dataType, True)
                  for f in resolved if f.name in self.group_by]
        # a maintained SUM accumulates: widen integral measures to long,
        # fractional to double (Spark's own sum() typing)
        for c in self.sums:
            dt = resolved[c].dataType
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
                out = T.LongType()
            elif isinstance(dt, T.DecimalType):
                # a maintained running SUM can exceed the source's exact
                # precision; widen the way Spark's own sum(decimal) does
                # (precision+10 capped at 38, same scale) so long-lived
                # rollups don't silently overflow to NULL
                out = T.DecimalType(min(dt.precision + 10, 38), dt.scale)
            else:
                out = T.DoubleType()
            fields.append(T.StructField(c, out, True))
        fields.append(T.StructField(self.count_col, T.LongType(), True))
        return T.StructType(fields)


class ContinuousAggregate:
    """Maintains ``agg`` = SELECT group_by, SUM(...)s, COUNT(*) FROM ``base``
    GROUP BY group_by, incrementally from ``base``'s changelog."""

    _OP, _SEQ = "_agg_op", "_agg_seq"

    def __init__(self, base: LakeTable, agg: LakeTable, spec: AggSpec):
        self.base = base
        self.agg = agg
        self.spec = spec

    # ------------------------------------------------------------ bootstrap
    @classmethod
    def create(cls, base: LakeTable, agg_root: str, spec: AggSpec,
               n_buckets: int = 16, fs=None) -> "ContinuousAggregate":
        """Create the rollup table and seed it with a full aggregation of the
        base table's CURRENT version — the one O(base) pass; every refresh
        after this is O(changes)."""
        base_version = base.current_version()
        if base_version is None:
            raise ValueError(f"base table has no snapshot: {base.root}")
        schema = spec.out_fields(base.snapshot(base_version).schema, base.spark)
        agg = LakeTable.create(base.spark, agg_root, schema,
                               bucket_key=spec.group_cols()[0],
                               n_buckets=n_buckets, fs=fs)
        ca = cls(base, agg, spec)
        seed = ca._full_aggregate(base.read(base_version))
        if seed.limit(1).count():
            ca._merge(seed.withColumn(cls._OP, F.lit("U")), base_version)
        else:
            # empty base: still record the consumed version atomically
            agg.apply_cdc(
                base.spark.createDataFrame([], ca._events_schema()),
                key_cols=spec.group_cols(), op_col=cls._OP, seq_col=cls._SEQ,
                properties={"agg_base_version": str(base_version)},
            )
        return ca

    def _events_schema(self) -> T.StructType:
        return T.StructType(
            list(self.agg.snapshot().schema.fields)
            + [T.StructField(self._OP, T.StringType(), False),
               T.StructField(self._SEQ, T.LongType(), False)]
        )

    def _full_aggregate(self, df: DataFrame) -> DataFrame:
        s = self.spec
        grouped = df.groupBy(
            *[F.expr(e).alias(c) for c, e in s.group_by.items()]
        )
        out_schema = self.agg.snapshot().schema
        aggs = [
            F.sum(F.coalesce(F.expr(e), F.lit(0)))
            .cast(out_schema[c].dataType.simpleString()).alias(c)
            for c, e in s.sums.items()
        ] + [F.count(F.lit(1)).alias(s.count_col)]
        return grouped.agg(*aggs)

    # ------------------------------------------------------------ watermark
    def consumed_version(self) -> int:
        """Latest base version folded into the rollup — read from the rollup
        table's own commit history, so it advances atomically with the data."""
        for entry in reversed(self.agg.history()):
            v = entry.get("properties", {}).get("agg_base_version")
            if v is not None:
                return int(v)
        raise ValueError(
            f"rollup at {self.agg.root} has no agg_base_version lineage; "
            "was it created via ContinuousAggregate.create()?"
        )

    # -------------------------------------------------------------- refresh
    def refresh(self) -> dict:
        """Fold all base commits since the last refresh into the rollup.
        Returns ``{"from": v0, "to": v1, "groups_touched": n}``; no-op (and no
        commit) when the base hasn't advanced."""
        start = self.consumed_version()
        end = self.base.current_version()
        if end is None or end <= start:
            return {"from": start, "to": start, "groups_touched": 0}

        s = self.spec
        ch = self.base.read_changes(start, end, include_preimages=True)
        sign = (
            F.when(F.col("_change_type").isin(*_PLUS), F.lit(1))
            .when(F.col("_change_type").isin(*_MINUS), F.lit(-1))
        ).cast("long")
        out_schema = self.agg.snapshot().schema
        changed_any = F.lit(False)
        for c in list(s.sums) + [s.count_col]:
            changed_any = changed_any | (F.col(c) != 0)
        deltas = (
            ch.select(
                *[F.expr(e).alias(c) for c, e in s.group_by.items()],
                *[(sign * F.coalesce(F.expr(e), F.lit(0))).alias(c)
                  for c, e in s.sums.items()],
                sign.alias(s.count_col),
            )
            .groupBy(*s.group_cols())
            .agg(*[F.sum(c).cast(out_schema[c].dataType.simpleString()).alias(c)
                   for c in list(s.sums) + [s.count_col]])
            # a group whose +/- contributions cancel exactly is untouched
            .filter(changed_any)
            .persist()
        )

        # current rollup values for ONLY the affected groups: prune the read
        # to the buckets the touched group keys hash into
        snap = self.agg.snapshot()
        bucket_of = self.agg._bucket_expr(snap, s.group_cols()[0])
        touched_buckets = sorted(
            r[0] for r in
            deltas.select(bucket_of.alias("_b")).distinct().collect()
        )
        gcols = s.group_cols()
        cur = self.agg.read(buckets=touched_buckets) if touched_buckets else \
            self.base.spark.createDataFrame([], snap.schema)
        cur = cur.select(*[F.col(c).alias(f"_cur_{c}") for c in cur.columns])

        cond = None
        for k in gcols:
            c = F.col(k).eqNullSafe(F.col(f"_cur_{k}"))
            cond = c if cond is None else cond & c
        merged = deltas.join(cur, on=cond, how="left")
        new_vals = [
            (F.coalesce(F.col(f"_cur_{c}"), F.lit(0)) + F.coalesce(F.col(c), F.lit(0)))
            .cast(out_schema[c].dataType.simpleString()).alias(c)
            for c in list(s.sums) + [s.count_col]
        ]
        events = merged.select(
            *gcols, *new_vals,
        ).withColumn(
            self._OP,
            F.when(F.col(s.count_col) == 0, F.lit("D")).otherwise(F.lit("U")),
        )
        try:
            n_groups = deltas.count()  # cheap: deltas is persisted
            self._merge(events, end)
        finally:
            deltas.unpersist()
        return {"from": start, "to": end, "groups_touched": n_groups}

    def follow(self, poll_s: float = 5.0, max_cycles: int | None = None) -> int:
        """Tail loop: poll the base table for new commits and fold each
        window in (ChangelogFollower's loop shape, with this class's
        exactly-once bookkeeping). Returns the number of non-empty windows
        folded; ``max_cycles`` bounds the loop for tests/batch catch-up."""
        import time as _time

        folded = 0
        cycles = 0
        while max_cycles is None or cycles < max_cycles:
            cycles += 1
            r = self.refresh()
            if r["to"] > r["from"]:
                folded += 1
            elif max_cycles is None or cycles < max_cycles:
                _time.sleep(poll_s)
        return folded

    def _merge(self, events: DataFrame, base_version: int) -> None:
        ev = events.withColumn(self._SEQ, F.lit(int(base_version)).cast("long"))
        if self._OP not in ev.columns:
            ev = ev.withColumn(self._OP, F.lit("U"))
        self.agg.apply_cdc(
            ev,
            key_cols=self.spec.group_cols(),
            op_col=self._OP,
            seq_col=self._SEQ,
            properties={"agg_base_version": str(base_version)},
        )
