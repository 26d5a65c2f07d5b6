#!/usr/bin/env python3
"""logstream benchmark: one command, three seeded workloads on local[4].

    python3 logbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Workloads: ``query_mix`` (17 headline queries, closed loop), ``stream_backfill``
(catch-up drain through the logstore source and sink) and ``stream_live``
(open-loop appends, dedup-on-ingest into the incremental rollup).

With ``--trace 0`` the run reports the end-to-end metrics of the chosen
workload. With ``--trace 1`` it runs the traced phases of all three
workloads in one session and reports every per-layer metric; spans come from
this directory's code only and are written to ``.logbench_traces/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Every run keeps its
stores, checkpoints and warehouse under ``.logbench_runs/`` and removes them
when it ends."""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_mix", "stream_backfill", "stream_live")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "spark_streaming_logservice_spark", "__init__.py")):
        print("logbench: the logstream package is not next to this directory", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from logbench import common

    run = common.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    common.isolate_environment(run)
    try:
        with common.RssSampler() as rss:
            run.rss = rss
            hooks_ok = common.check_hooks_unarmed()
            if args.trace:
                metrics = _traced(run)
            else:
                _module(run.workload).timed(run)
                hooks_ok = hooks_ok and common.check_hooks_unarmed()
        if not args.trace:
            run.metric("peak_rss_mb", rss.peak_mb, "MB")
            run.check(hooks_ok, "a package TIMINGS hook was armed during the timed run")
            metrics = run.metrics
        record = {
            "workload": args.workload, "trace": args.trace,
            "host": common.host_fingerprint(), "params": run.params,
            "failures": run.failures, "rss_at_peak": rss.peak_parts,
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop_spark()
        run.cleanup()
    print("params " + json.dumps(record, sort_keys=True, default=str))
    for name, m in sorted(metrics.items()):
        print(f"{name} = {m['value']:.6g} {m['unit']} (n={m.get('samples', 1)})")
    for name, m in sorted(run.info.items()):
        print(f"wall-clock, not gated: {name} = {m['value']:.6g} {m['unit']} (n={m['samples']})")
    print(f"failed {run.failed} of {run.attempted} checked operations")
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()},
    }))
    return 0


def _module(workload: str):
    import importlib

    name = {"query_mix": "mix", "stream_backfill": "backfill", "stream_live": "live"}
    return importlib.import_module(f"logbench.{name[workload]}")


def _traced(run) -> dict:
    """All three traced phases in one session, the requested workload first."""
    from logbench import common
    from logbench.trace import Tracer

    tracer = Tracer()
    out: dict[str, tuple] = {}
    order = [run.workload] + [w for w in WORKLOADS if w != run.workload]
    for w in order:
        _module(w).traced(run, tracer, out)
    common.write_json(
        os.path.join(common.TRACES_DIR, f"{run.workload}-seed{run.seed}.json"),
        {"params": run.params, "spans": tracer.spans},
    )
    return {k: {"value": float(v), "unit": u, "samples": 1} for k, (v, u) in out.items()}


def _stop_spark() -> None:
    try:
        from pyspark.sql import SparkSession
    except ImportError:
        return
    from pyspark import SparkContext

    spark = SparkSession.getActiveSession()
    if spark is not None:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    # end the JVM too, and wait for it, rather than leave it to exit with us
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
