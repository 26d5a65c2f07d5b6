"""Open-loop load generator for ``stream_live``, run as its own process.

Every ``flush`` seconds (the producer linger) it appends one log group per
shard, on a fixed schedule that does not slow down when the stream does.
A fixed share of each group are identical redeliveries of records sent in
the last few groups. It tracks each shard's next seq itself, and logs per
group the scheduled send time (``due``), the shard, the group's end seq and
when the write actually finished.

    python3 logbench/loadgen.py --config <json file> --out <json file>
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np


def run(cfg: dict) -> dict:
    from logbench import logs

    rng = np.random.default_rng(cfg["seed"])
    shards = cfg["shards"]
    per_group = int(round(cfg["rate"] * cfg["flush"] / shards))
    n_redeliver = int(round(per_group * cfg["redeliver_share"]))
    next_seq = {int(k): v for k, v in cfg["start_seqs"].items()}
    next_rid = cfg["rid_base"]
    recent: list[dict] = []
    groups = []
    distinct = errors = sent = 0
    t0 = cfg["start_at"]
    ticks = int(round(cfg["duration"] / cfg["flush"]))
    for k in range(ticks):
        due = t0 + k * cfg["flush"]
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        for shard in range(shards):
            n_new = per_group - (n_redeliver if recent else 0)
            rids = np.arange(next_rid, next_rid + n_new)
            next_rid += n_new
            fresh = logs.make_records(rng, rids, np.full(n_new, int(due)))
            parts = [fresh]
            if recent and n_redeliver:
                pool = logs.concat(recent)
                parts.append(logs.take(pool, rng.choice(len(pool["rid"]), n_redeliver, replace=False)))
            recs = logs.concat(parts)
            end = logs.write_group(cfg["store"], shard, recs, next_seq[shard])
            next_seq[shard] = end
            done = time.time()
            n_err = int((fresh["etype"] == "error").sum())
            groups.append({"due": due, "shard": shard, "end_seq": end, "written": done,
                           "rows": len(recs["rid"]), "new": n_new, "new_errors": n_err})
            distinct += n_new
            errors += n_err
            sent += len(recs["rid"])
            recent.append(fresh)
            del recent[:-cfg["redeliver_window"]]
    return {"groups": groups, "distinct": distinct, "errors": errors, "sent": sent,
            "rows_per_group": per_group, "redelivered_per_group": n_redeliver}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(args.config) as f:
        cfg = json.load(f)
    result = run(cfg)
    tmp = args.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
