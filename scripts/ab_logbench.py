#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one logbench workload.

    python3 scripts/ab_logbench.py --base ../parent --change . \\
        --workload stream_backfill --seeds 201 202 203 204 205 206 207 208 209 210

Each checkout is a directory holding ``logbench/`` and the package, e.g. one
made with ``git archive <rev> | tar -x -C <dir>``. For every seed the script
runs ``logbench/run.py --trace 0`` once on each side, in that side's own
directory, alternating which side runs first. It then prints, per end-to-end
metric, each side's median and quartiles, the pairwise win count (ties count
for neither side) and two verdicts:

- ``gain``: the change wins at least nine tenths of the pairs and the medians
  differ by more than the base's own quartile spread;
- ``within bound``: the change's median is no worse than the base's by more
  than the metric's bound in the change's ``BENCHMARK.json``.

Failed runs and failed checked operations are counted per side. With
``--out`` the raw runs and the summary are also written as JSON. The script
only reads the benchmark's files; it changes nothing in either checkout."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    """One untraced benchmark run; its final JSON record plus wall time."""
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, "logbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    try:
        record = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        record = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    record.update(returncode=proc.returncode, wall_s=round(wall, 1), seed=seed)
    if proc.returncode != 0:
        record["stderr_tail"] = proc.stderr[-2000:]
    return record


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], spec: dict) -> dict:
    """Per-metric medians, quartiles, wins and verdicts over complete pairs."""
    names = sorted({k for b, c in pairs for k in b["metrics"].keys() & c["metrics"].keys()})
    out = {}
    for name in names:
        better = spec.get(name, {}).get("better", "lower")
        sign = 1.0 if better == "lower" else -1.0
        got = [(b["metrics"][name]["value"], c["metrics"][name]["value"])
               for b, c in pairs if name in b["metrics"] and name in c["metrics"]]
        base = [x for x, _ in got]
        change = [y for _, y in got]
        wins = sum(1 for x, y in got if sign * (x - y) > 0)
        losses = sum(1 for x, y in got if sign * (y - x) > 0)
        bq, cq = quartiles(base), quartiles(change)
        gap = sign * (bq[1] - cq[1])  # > 0: the change is better
        row = {
            "better": better, "pairs": len(got), "change_wins": wins, "base_wins": losses,
            "base_q1_median_q3": bq, "change_q1_median_q3": cq,
            "median_change_pct": 100.0 * (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan"),
            "gain": wins >= 0.9 * len(got) and gap > (bq[2] - bq[0]),
        }
        bound = spec.get(name, {}).get("bound")
        if bound is not None:
            row["bound"] = bound
            row["within_bound"] = -gap <= bound * abs(bq[1])
        out[name] = row
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--out", help="write raw runs and the summary here as JSON")
    args = ap.parse_args(argv)

    base, change = os.path.abspath(args.base), os.path.abspath(args.change)
    with open(os.path.join(change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or int(bench["run_seconds"])
    spec = {m["name"]: m for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}

    pairs: list[tuple[dict, dict]] = []
    for i, seed in enumerate(args.seeds):
        order = [("base", base), ("change", change)]
        if i % 2:
            order.reverse()
        res = {}
        for side, checkout in order:
            res[side] = run_once(checkout, args.workload, seed, seconds)
            r = res[side]
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items()))
            print(f"seed {seed} {side:6s} rc={r['returncode']} correct={r['correct']} "
                  f"wall={r['wall_s']}s {vals}", flush=True)
        pairs.append((res["base"], res["change"]))

    summary = summarize(pairs, spec)
    print(f"\n{args.workload}: {len(pairs)} pairs, seeds {args.seeds}, --seconds {seconds}")
    for side, idx in (("base", 0), ("change", 1)):
        runs = [p[idx] for p in pairs]
        print(f"  {side}: {sum(r['returncode'] != 0 for r in runs)} runs failed, "
              f"{sum(r['failed'] for r in runs)} of {sum(r['attempted'] for r in runs)} "
              f"checked operations failed")
    for name, row in summary.items():
        bq, cq = row["base_q1_median_q3"], row["change_q1_median_q3"]
        extra = f", within bound {row['bound']}: {row['within_bound']}" if "bound" in row else ""
        print(f"  {name} ({row['better']} is better): base {bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}]"
              f"  change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  ({row['median_change_pct']:+.1f}%)"
              f"  change wins {row['change_wins']}/{row['pairs']} (base {row['base_wins']})"
              f"  gain: {row['gain']}{extra}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seeds": args.seeds, "seconds": seconds,
                       "pairs": [{"base": b, "change": c} for b, c in pairs],
                       "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
