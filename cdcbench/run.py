"""CDC benchmark: one workload, one seed, one closed-loop client.

    python3 cdcbench/run.py --workload replay_aligned --seed 1 --seconds 20 --trace 0

Run from the repository root. Prints context lines (inputs, host, tails),
then as its last line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- every end-to-end metric with ``--trace 0``,
every per-layer metric with ``--trace 1``. Exits non-zero when a check
fails or the program cannot be imported.

Inputs (the feed and its oracle digest) are cached under ``.cdcbench_work/``
keyed by feed spec, seed and the generator/oracle sources; each run's
tables, Spark scratch space and event log live there too and are removed
when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MASTER = "local[4]"
SLOTS = 4
PROBE_S = 0.5


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _wait_children(timeout_s: float = 30.0) -> None:
    """Wait until no process this one started is left; kill stragglers."""
    import signal

    from cdcbench.host import process_tree

    deadline = time.time() + timeout_s
    while True:
        kids = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        if not kids:
            return
        if time.time() > deadline:
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        for p in kids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def _install_spans(tracer) -> None:
    """Wrap each layer's public entry points (and the engine's schema
    evolution and manifest steps) in spans named after the module."""
    from datax_spark.cdc import merge
    from datax_spark.cdc.engine import CdcEngine
    from datax_spark.lake.table import LakeTable
    from datax_spark.streaming.feed import StreamingCdcEngine

    for attr in ("run", "apply_epoch", "apply_batch", "_emit_epoch_manifest"):
        tracer.wrap(CdcEngine, attr, f"cdc.engine.{attr.lstrip('_')}")
    for attr in ("_evolve_schema", "_evolve_schema_from_footers"):
        tracer.wrap(CdcEngine, attr, "cdc.engine.evolve")
    for attr in ("create", "snapshot", "read", "lookup", "apply_cdc_files",
                 "apply_cdc_stats", "compact", "add_columns", "widen_columns"):
        tracer.wrap(LakeTable, attr, f"lake.table.{attr}")
    for attr in ("split_valid_dirty", "make_arrow_validator", "dirty_reason_expr"):
        tracer.wrap(merge, attr, f"cdc.merge.{attr}")
    tracer.wrap(StreamingCdcEngine, "run_available_now", "streaming.feed.run_available_now")


def _progress_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            sink.append({"batchId": p.batchId, "numInputRows": p.numInputRows,
                         "durationMs": dict(p.durationMs or {})})

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return ProgressLog()


def _run_dir(work: str) -> str:
    """A fresh per-process directory for tables, Spark scratch space and
    temporary files; Python and the JVM write their temp files there."""
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    return run_dir


def _session(run_dir: str, trace: bool):
    from datax_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
                     "spark.eventLog.compress": "false"})
    return get_spark(app_name="cdcbench", master=MASTER,
                     shuffle_partitions=2 * SLOTS, extra_conf=conf)


def _prepare_inputs(work: str, entry: str, spec) -> int:
    """Child-process mode: generate one feed and its reference into the
    cache, in a session of its own, so the measuring process starts the same
    whether the cache hit or missed."""
    from cdcbench import inputs

    run_dir = _run_dir(work)
    spark = None
    try:
        spark = _session(run_dir, trace=False)
        inputs.generate(spark, entry, spec)
    finally:
        if spark is not None:
            _stop_spark(spark)
        _wait_children()
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full",
                    help="feed size; toy is for the smoke test")
    ap.add_argument("--inputs-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    # the program under test; absent in a bare benchmark directory
    import datax_spark  # noqa: F401
    from bench import host_probe

    from cdcbench import host, inputs, report
    from cdcbench.trace import Tracer
    from cdcbench.workloads import SHAPES, WORKLOADS, feed_spec, run_workload

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".cdcbench_work")
    spec = feed_spec(args.workload, args.scale, args.seed)
    entry = inputs.cache_entry(os.path.join(work, "cache"), spec, ROOT)
    if args.inputs_only:
        return _prepare_inputs(work, entry, spec)

    ctx = {"workload": args.workload, "seed": args.seed, "feed_seed": spec.seed,
           "trace": args.trace, "scale": args.scale, "master": MASTER, "nproc": host.nproc()}
    phases = ctx["phases_s"] = {}
    last = [time.time()]

    def mark(name: str) -> None:
        now = time.time()
        phases[name] = now - last[0]
        last[0] = now

    meta = inputs.load_cached(entry)
    ctx["cache_hit"] = meta is not None
    if meta is None:
        subprocess.run([sys.executable, os.path.abspath(__file__), *(argv or sys.argv[1:]),
                        "--inputs-only"], check=True, timeout=600)
        meta = inputs.load_cached(entry)
    mark("inputs")
    ctx["input"] = {k: meta[k] for k in ("events", "bytes", "digest", "oracle_rows", "malformed")}

    run_dir = _run_dir(work)
    ctx.update(work_dir=run_dir, work_fs=host.fs_type(run_dir),
               local_dir=os.path.join(run_dir, "local"),
               local_fs=host.fs_type(os.path.join(run_dir, "local")))
    ctx["memcpy_gbps_before"] = host_probe(procs=SLOTS, secs=PROBE_S)
    mark("probe_before")

    tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}",
                    timed={"cdc.engine.apply_epoch", "cdc.engine.apply_batch"})
    spark = None
    out = None
    rc = 1
    try:
        t0 = time.time()
        spark = _session(run_dir, bool(args.trace))
        session_start = time.time() - t0
        mark("session")

        if args.trace:
            _install_spans(tracer)
        else:
            from datax_spark.cdc.engine import CdcEngine

            tracer.wrap(CdcEngine, "apply_epoch", "cdc.engine.apply_epoch")
            tracer.wrap(CdcEngine, "apply_batch", "cdc.engine.apply_batch")
        progress: list[dict] = []
        listener = None
        if args.trace:
            listener = _progress_listener(progress)
            spark.streams.addListener(listener)

        b = WORKLOADS[args.workload](spark, tracer, os.path.join(run_dir, "tables"), meta,
                                     SHAPES[args.scale][args.workload], args.seed)
        os.makedirs(b.workdir)
        with host.RssSampler() as rss:
            builds = run_workload(b, args.seconds, bool(args.trace))
        phases.update(b.rec.phases)
        mark("workload")
        if listener is not None:
            time.sleep(1.0)  # progress events arrive asynchronously
            spark.streams.removeListener(listener)
        tracer.unwrap_all()
        builds.sort()
        setup_s = session_start + builds[len(builds) // 2]
        ctx["fixture_builds_s"] = builds
        ctx["iterations"] = len(b.rec.iterations)
        ctx["modes"] = sorted(b.rec.modes)
        ctx["batch_events"] = b.rec.batch_events[:1]
        ctx["failures"] = b.rec.failures

        _stop_spark(spark)
        spark = None
        mark("stop")

        if args.trace:
            from cdcbench import sparklog

            log = sparklog.load(os.path.join(run_dir, "eventlog"))
            values = report.per_layer(b.rec, tracer, log, SLOTS, session_start, progress)
            units = {k: v[0] for k, v in report.PER_LAYER.items()}
            tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.jsonl"))
            ctx["layer_moves"] = {k: {"moves": v[1], "on": v[2]}
                                  for k, v in report.PER_LAYER.items()}
            if values["trace.coverage"] < 0.9:
                b.rec.failures.append(f"spans cover {values['trace.coverage']:.3f} < 0.9 of traced time")
        else:
            values, tails = report.end_to_end(b.rec, tracer, setup_s, rss.peak)
            units = report.END_TO_END
            ctx["tails"] = tails
            ctx["iteration_events_per_s"] = report.iteration_eps(b.rec, False)
        ctx["memcpy_gbps_after"] = host_probe(procs=SLOTS, secs=PROBE_S)
        mark("probe_after")

        failed = len(b.rec.failures)
        out = {
            "correct": failed == 0,
            "attempted": b.rec.attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
        rc = 0 if failed == 0 else 1
    except Exception:
        traceback.print_exc()
        ctx["error"] = traceback.format_exc().strip().splitlines()[-1]
        rc = 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        _wait_children()
        shutil.rmtree(run_dir, ignore_errors=True)
        print("context " + json.dumps(ctx, default=str), flush=True)
        if out is not None:
            print(json.dumps(out), flush=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
