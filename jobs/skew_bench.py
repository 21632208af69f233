"""Skewed-fan-out replay A/B: pathological hot conversations, hot-key
governance off/on.

The design point (BASELINE.json north rule) requires the MERGE-apply to
survive skewed conversation fan-out — a handful of conv_ids receiving
orders of magnitude more change events than the median. The standard bench
feed already carries a heavy tail (ChangeFeedSpec.hot_exponent=0.7 capped
at hot_cap=500); this job removes the cap region entirely and measures the
engine on a PATHOLOGICAL feed where the hottest keys get ~10^5x the median,
two ways per trial over the same feed:

  baseline   — standard engine (aligned bucket kernel: a hot conv_id is a
               hot bucket task; LPT placement keeps it off other big
               buckets),
  governance — + hot_key_min_count, which adds one aggregation pass per
               epoch so the lineage manifests name the hot keys (the
               observability half of skew handling).

Each trial runs both legs, alternating which goes first, so leg order and
the host window do not masquerade as a code-path difference. Reports the
median and min/max sustained events/s per leg, the feed's measured skew
(max/median events per key, hot-key share) and the hottest keys recorded in
the lineage manifests.

Usage:  python jobs/skew_bench.py [--convs 400000] [--epochs 3] [--trials 3]
                                  [--out BENCH_SKEW.json]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def replay(spark, feed, work, tag, **cfg_extra):
    from datax_spark.cdc.engine import CdcEngine, EngineConfig
    from datax_spark.cdc.schema import TRANSCRIPTS_SCHEMA_V1
    from datax_spark.lake.table import LakeTable

    tdir = os.path.join(work, f"run-{tag}")
    shutil.rmtree(tdir, ignore_errors=True)
    LakeTable.create(spark, os.path.join(tdir, "table"),
                     TRANSCRIPTS_SCHEMA_V1, bucket_key="conv_id",
                     n_buckets=64)
    eng = CdcEngine(spark, EngineConfig(
        table_root=os.path.join(tdir, "table"), feed_dir=feed,
        checkpoint_dir=os.path.join(tdir, "ckpt"), **cfg_extra))
    t0 = time.time()
    summary = eng.run()
    dt = time.time() - t0
    commits = [m for m in eng.cfg.metrics if m.get("kind") == "epoch_commit"]
    warm = commits[1:] if len(commits) > 1 else commits
    warm_secs = sum(m["duration_s"] for m in warm)
    hot = []
    for c in sorted(glob.glob(os.path.join(tdir, "ckpt", "commits",
                                           "epoch-*.json"))):
        hot += json.load(open(c)).get("hot_keys", [])
    return {
        "replay_sec": round(dt, 2),
        "sustained_events_per_sec": round(
            sum(m["events"] for m in warm) / warm_secs, 1) if warm_secs else None,
        "events_applied": summary["events_applied"],
        "final_rows": eng.table.live_row_count(),
        "lineage_hot_keys": hot[:8],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=400_000)
    ap.add_argument("--epochs", type=int, default=3)
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_SKEW.json"))
    args = ap.parse_args()

    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    os.environ.setdefault("SPARK_LOCAL_DIRS",
                          f"{base}/dsx-skew-local-{os.getpid()}")

    from pyspark.sql import functions as F

    from datax_spark.cdc.generator import ChangeFeedSpec, generate_change_feed
    from datax_spark.session import get_spark

    spark = get_spark(app_name="datax-skew-bench")
    work = f"{base}/dsx-skew-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        feed = os.path.join(work, "feed")
        # hot_cap lifted 400x beyond the standard feed: the tail goes
        # uncapped until ~10^5x the base update rate — a worst-case epoch
        # where single conversations dominate whole shards
        stats = generate_change_feed(spark, feed, ChangeFeedSpec(
            seed=11, n_convs=args.convs, n_epochs=args.epochs,
            update_rate=0.45, hot_exponent=1.0, hot_cap=200_000,
            shards_per_epoch=64))
        per_key = (spark.read.parquet(feed)
                   .groupBy("conv_id").agg(F.count("*").alias("n")))
        dist = per_key.agg(
            F.max("n").alias("max"),
            F.expr("percentile_approx(n, 0.5)").alias("median"),
            F.count("*").alias("keys"),
            F.sum("n").alias("events")).collect()[0].asDict()
        top_share = (per_key.orderBy(F.col("n").desc()).limit(10)
                     .agg(F.sum("n")).collect()[0][0]) / dist["events"]
        feed_skew = {
            "events": int(dist["events"]), "keys": int(dist["keys"]),
            "max_events_per_key": int(dist["max"]),
            "median_events_per_key": int(dist["median"]),
            "max_over_median": round(dist["max"] / max(dist["median"], 1), 1),
            "top10_key_share": round(top_share, 4),
        }
        legs = {"baseline": {},
                "governance": {"hot_key_min_count": 10_000}}
        runs: dict[str, list[dict]] = {tag: [] for tag in legs}
        for t in range(args.trials):
            order = list(legs) if t % 2 == 0 else list(reversed(legs))
            for tag in order:
                runs[tag].append(replay(spark, feed, work, f"{tag}-{t}", **legs[tag]))
        # row-identical final state across legs — governance only observes
        rows = {r["final_rows"] for rs in runs.values() for r in rs}
        assert len(rows) == 1, rows

        def spread(rs):
            eps = [r["sustained_events_per_sec"] or 0 for r in rs]
            return {"median": statistics.median(eps), "min": min(eps),
                    "max": max(eps), "trials": eps}

        results = {tag: {**spread(rs), "lineage_hot_keys": rs[0]["lineage_hot_keys"],
                         "final_rows": rs[0]["final_rows"]}
                   for tag, rs in runs.items()}
        out = {
            "metric": "sustained MERGE-apply events/s on a pathologically "
                      "skewed feed (hot_cap=200k, hot_exponent=1.0), hot-key "
                      "governance off/on, median of %d alternating trials"
                      % args.trials,
            "feed_skew": feed_skew,
            "total_events": stats["total_events"],
            "runs": results,
            "governance_over_baseline": round(
                results["governance"]["median"]
                / (results["baseline"]["median"] or 1), 3),
        }
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(json.dumps({k: out[k] for k in
                          ("feed_skew", "governance_over_baseline")}))
        print("wrote", args.out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
