"""Metric names, what each layer metric should move, and how each is
computed from one run's record, spans and Spark event log."""

from __future__ import annotations

import statistics

from cdcbench.sparklog import EventLog, max_over_median
from cdcbench.trace import Tracer, covered
from cdcbench.workloads import Record

# name -> unit; printed with --trace 0
END_TO_END = {
    "apply_events_per_s": "1/s",
    "commit_latency_p50_s": "s",
    "commit_latency_tail_s": "s",
    "lookup_latency_p50_s": "s",
    "lookup_latency_tail_s": "s",
    "scan_rows_per_s": "1/s",
    "table_bytes_per_row": "bytes/row",
    "peak_rss_mb": "MB",
    "setup_s": "s",
    "ops_ok_ratio": "ratio",
}

# name -> (unit, end-to-end metric it should move, workloads where it should)
PER_LAYER = {
    "session.start_s": ("s", "setup_s", "all"),
    "cdc.engine.epoch_s": ("s", "commit_latency_p50_s", "replay_aligned stream_skewed"),
    "cdc.engine.self_s": ("s", "commit_latency_p50_s", "replay_aligned"),
    "cdc.engine.evolve_s": ("s", "commit_latency_tail_s", "replay_aligned serve_mixed"),
    "lake.table.apply_s": ("s", "apply_events_per_s", "replay_aligned stream_skewed; not lookup_latency_* on serve_mixed"),
    "lake.table.bytes_written_per_event": ("bytes/event", "apply_events_per_s on replay_aligned; table_bytes_per_row", "all"),
    "lake.table.bucket_events_max_over_median": ("ratio", "apply_events_per_s", "stream_skewed"),
    "spark.apply_stage.task_s_max_over_median": ("ratio", "apply_events_per_s", "stream_skewed"),
    "spark.shuffle.bytes_per_event": ("bytes/event", "apply_events_per_s", "stream_skewed (zero on replay_aligned)"),
    "streaming.batches": ("count", "commit_latency_*", "stream_skewed"),
    "streaming.batch_s": ("s", "commit_latency_*", "stream_skewed"),
    "streaming.overhead_s": ("s", "commit_latency_*", "stream_skewed"),
    "lake.table.lookup_s": ("s", "lookup_latency_*", "serve_mixed"),
    "lake.table.read_s": ("s", "scan_rows_per_s", "all"),
    "lake.table.snapshot_s": ("s", "lookup_latency_*", "serve_mixed"),
    "lake.table.snapshot_calls": ("count", "lookup_latency_*", "serve_mixed"),
    "spark.jobs_per_op": ("count", "lookup_latency_*", "serve_mixed"),
    "lake.table.delta_layers_max": ("count", "lookup_latency_*", "serve_mixed"),
    "lake.table.delta_layers_mean": ("count", "lookup_latency_*", "serve_mixed"),
    "lake.table.compact_s": ("s", "commit_latency_tail_s vs lookup_latency_*", "serve_mixed"),
    "lake.table.bytes_rewritten": ("bytes", "commit_latency_tail_s vs lookup_latency_*", "serve_mixed"),
    "spark.task_busy_ratio": ("ratio", "apply_events_per_s (is parallelism the lever?)", "all"),
    "trace.overhead_ratio": ("ratio", "none (untraced over traced apply_events_per_s)", "all"),
    "trace.coverage": ("ratio", "none (share of traced wall time inside spans)", "all"),
}

APPLY_SPANS = ("lake.table.apply_cdc_files", "lake.table.apply_cdc_stats")
EPOCH_SPANS = ("cdc.engine.apply_epoch", "cdc.engine.apply_batch")
READ_OPS = ("op.lookup", "op.read")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile with
    at least ten samples beyond it; below 101 samples that percentile falls
    under p90, so p90 (interpolated) is reported with its real count."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n == 1:
        return xs[0], 100.0, 0
    k = n - 11
    if k >= 0 and k / (n - 1) >= 0.9:
        return xs[k], 100.0 * k / (n - 1), n - 1 - k
    pos = 0.9 * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    val = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return val, 90.0, sum(1 for x in xs if x > val)


def _in(windows, t: float) -> bool:
    return any(s <= t <= e for s, e in windows)


def commit_samples(tracer: Tracer, windows) -> list[float]:
    for name in EPOCH_SPANS:
        xs = [e - s for s, e in tracer.calls.get(name, []) if _in(windows, s)]
        if xs:
            return xs
    return []


def iteration_eps(rec: Record, traced: bool) -> list[float]:
    out = []
    for s, e, tr in rec.iterations:
        if tr != traced:
            continue
        ops = [o for o in rec.ops if o.kind in ("drain", "commit") and s <= o.start <= e]
        dt = sum(o.end - o.start for o in ops)
        if dt > 0:
            out.append(sum(o.events for o in ops) / dt)
    return out


def end_to_end(rec: Record, tracer: Tracer, setup_s: float, peak_rss: int) -> tuple[dict, dict]:
    """Metric values plus the tails' percentile and sample counts."""
    windows = [(s, e) for s, e, _ in rec.iterations]
    ops = [o for o in rec.ops if _in(windows, o.start)]
    applies = [o for o in ops if o.kind in ("drain", "commit")]
    lookups = [o.end - o.start for o in ops if o.kind == "lookup"]
    reads = [o for o in ops if o.kind == "read"]
    commits = commit_samples(tracer, windows)
    c_tail, c_pct, c_beyond = tail(commits)
    l_tail, l_pct, l_beyond = tail(lookups)
    failed = len(rec.failures)
    values = {
        "apply_events_per_s": sum(o.events for o in applies) / sum(o.end - o.start for o in applies),
        "commit_latency_p50_s": median(commits),
        "commit_latency_tail_s": c_tail,
        "lookup_latency_p50_s": median(lookups),
        "lookup_latency_tail_s": l_tail,
        "scan_rows_per_s": median(o.rows / (o.end - o.start) for o in reads),
        "table_bytes_per_row": rec.table_bytes_per_row,
        "peak_rss_mb": peak_rss / 2**20,
        "setup_s": setup_s,
        "ops_ok_ratio": (rec.attempted - failed) / max(rec.attempted, 1),
    }
    tails = {
        "commit_latency_tail_s": {"percentile": c_pct, "beyond": c_beyond, "samples": len(commits)},
        "lookup_latency_tail_s": {"percentile": l_pct, "beyond": l_beyond, "samples": len(lookups)},
    }
    return values, tails


def per_layer(rec: Record, tracer: Tracer, log: EventLog | None, slots: int,
              session_start_s: float, progress: list[dict]) -> dict:
    windows = [(s, e) for s, e, tr in rec.iterations if tr]
    spans = [sp for sp in tracer.spans if _in(windows, sp.start)]
    by_id = {sp.id: sp for sp in tracer.spans}
    kids = tracer.children()

    def under(sp, name_pred) -> list:
        out, todo = [], list(kids.get(sp.id, []))
        while todo:
            c = todo.pop()
            if name_pred(c.name):
                out.append(c)
            todo += kids.get(c.id, [])
        return out

    def nested_in(sp, names) -> bool:
        p = sp.parent
        while p is not None:
            if by_id[p].name in names:
                return True
            p = by_id[p].parent
        return False

    epochs = [sp for sp in spans if sp.name in EPOCH_SPANS and not nested_in(sp, EPOCH_SPANS)]
    applies = [sp for sp in spans if sp.name in APPLY_SPANS]
    read_ops = [sp for sp in spans if sp.name in READ_OPS]
    events = sum(o.events for o in rec.ops
                 if o.traced and o.kind in ("drain", "commit"))

    jobs_of = (lambda sp: log.jobs_in(sp.start, sp.end)) if log else (lambda sp: [])
    stage_ratios, shuffle_bytes = [], 0
    for sp in applies:
        jobs = jobs_of(sp)
        main = log.main_stage(jobs) if log else None
        if main is not None:
            stage_ratios.append(max_over_median(main.tasks))
        if log:
            shuffle_bytes += sum(log.stages[s].shuffle_write_bytes
                                 for j in jobs for s in j.stage_ids if s in log.stages)

    bucket_ratios = [
        max_over_median([p["events"] for p in m["partitions"].values()])
        for ms in rec.manifests for m in ms if m.get("partitions")
    ]
    written_apply = [(b, e) for k, b, e in rec.written if k == "apply"]
    rewritten = [b for k, b, _ in rec.written if k == "compact"]
    batches = [len(b) for b in rec.batch_events]
    prog = [p for p in progress if p.get("numInputRows", 0) > 0]
    trig = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in prog]
    over = [(p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)) / 1000.0
            for p in prog]
    wall = sum(e - s for s, e in windows)
    busy = sum(log.task_seconds(s, e) for s, e in windows) if log else 0.0
    untraced, traced = iteration_eps(rec, False), iteration_eps(rec, True)

    values = {
        "session.start_s": session_start_s,
        "cdc.engine.epoch_s": median(sp.end - sp.start for sp in epochs),
        "cdc.engine.self_s": median(tracer.layer_self_time(sp, kids, "cdc.engine") for sp in epochs),
        "cdc.engine.evolve_s": median(
            sum(c.end - c.start for c in under(sp, lambda n: n == "cdc.engine.evolve"))
            for sp in epochs),
        "lake.table.apply_s": median(sp.end - sp.start for sp in applies),
        "lake.table.bytes_written_per_event":
            sum(b for b, _ in written_apply) / max(sum(e for _, e in written_apply), 1),
        "lake.table.bucket_events_max_over_median": median(bucket_ratios),
        "spark.apply_stage.task_s_max_over_median": median(stage_ratios),
        "spark.shuffle.bytes_per_event": shuffle_bytes / max(events, 1),
        "streaming.batches": median(batches),
        "streaming.batch_s": median(trig),
        "streaming.overhead_s": median(over),
        "lake.table.lookup_s": median(sp.end - sp.start for sp in read_ops if sp.name == "op.lookup"),
        "lake.table.read_s": median(sp.end - sp.start for sp in read_ops if sp.name == "op.read"),
        "lake.table.snapshot_s": median(
            sum(c.end - c.start for c in under(sp, lambda n: n == "lake.table.snapshot"))
            for sp in read_ops),
        "lake.table.snapshot_calls": statistics.fmean(
            [len(under(sp, lambda n: n == "lake.table.snapshot")) for sp in read_ops] or [0]),
        "spark.jobs_per_op": statistics.fmean([len(jobs_of(sp)) for sp in read_ops] or [0]),
        "lake.table.delta_layers_max": statistics.fmean([m for m, _ in rec.layers] or [0]),
        "lake.table.delta_layers_mean": statistics.fmean([m for _, m in rec.layers] or [0]),
        "lake.table.compact_s": median(sp.end - sp.start for sp in spans if sp.name == "op.compact"),
        "lake.table.bytes_rewritten": statistics.fmean(rewritten or [0]),
        "spark.task_busy_ratio": busy / (wall * slots) if wall > 0 else 0.0,
        "trace.overhead_ratio": median(untraced) / median(traced) if traced and untraced else 0.0,
        "trace.coverage": sum(
            covered([(sp.start, sp.end) for sp in spans], s, e) for s, e in windows
        ) / wall if wall > 0 else 0.0,
    }
    return values
