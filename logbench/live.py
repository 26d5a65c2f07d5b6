"""``stream_live``: an open loop. A separate generator process appends log
groups to 4 shards at a fixed rate and flush interval on top of a fixed
pre-built history; a fixed share of records are identical redeliveries.
The stream starts at ``latest`` and its ``foreachBatch`` runs
``dedup_on_ingest``, which forwards the novel rows to
``incremental_rollup_writer``.

Latency runs from a group's scheduled send time to the commit of the first
micro-batch whose ``endOffset`` covers it, computed after the run from the
generator's log and the query's progress records. The output check: the
rollup's Σ n_events and Σ n_errors equal the generator's distinct-record
counts (exactly-once plus dedup)."""

from __future__ import annotations

import json
import os
import resource
import subprocess
import sys
import time

import numpy as np

from logbench import logs
from logbench.common import ROOT, Run, StealMeter, median, percentile, timer, tree_cpu_s
from logbench.progress import ProgressLog, committed_at, end_offset

SHARDS = 4
RATE = 2_000  # rows/s offered, all shards together
FLUSH_S = 0.5  # producer linger: one group per shard per flush
REDELIVER_SHARE = 0.05
REDELIVER_WINDOW = 8  # groups a redelivery may reach back over
HISTORY_GROUPS = 100  # per shard
HISTORY_ROWS_PER_GROUP = 250
WARMUP_S = 8.0
DRAIN_TIMEOUT_S = 60
SOURCE_DDL = "rid STRING, etype STRING, t LONG, body STRING"


def make_history(store: str, seed: int) -> dict[int, int]:
    """Fixed, old history under the live tail; returns each shard's end seq."""
    rng = np.random.default_rng(seed + 1)
    ends = {}
    for shard in range(SHARDS):
        seq = 0
        for g in range(HISTORY_GROUPS):
            n = HISTORY_ROWS_PER_GROUP
            rids = -(1 + shard * HISTORY_GROUPS * n + g * n + np.arange(n))
            recs = logs.make_records(rng, rids, np.full(n, 1_600_000_000 + g))
            seq = logs.write_group(store, shard, recs, seq)
        ends[shard] = seq
    return ends


def _start_query(spark, run: Run, store: str, on_batch):
    from pyspark.sql import functions as F

    return (
        spark.readStream.format("logstore")
        .schema(SOURCE_DDL)
        .option("path", store)
        .option("startingOffsets", "latest")
        .load()
        .select(
            "rid",
            F.col("etype").alias("event_type"),
            F.timestamp_seconds("t").cast("timestamp_ntz").alias("ts"),
            F.col("body").alias("text"),
        )
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", run.path("ck-live"))
        .start()
    )


def _pipeline(run: Run, wrap=None):
    """The maintenance chain under test; ``wrap`` lets the traced run put
    timing wrappers around the two public entry points."""
    from spark_streaming_logservice_spark.streaming.dedup_store import dedup_on_ingest
    from spark_streaming_logservice_spark.streaming.rollup import incremental_rollup_writer

    rollup = incremental_rollup_writer(run.path("rollup"), time_col="ts")
    if wrap is not None:
        rollup = wrap("forward", rollup)
    apply = dedup_on_ingest(rollup, run.path("digests"), text_col="text", id_col="rid",
                            namespace="live")
    return wrap("apply", apply) if wrap is not None else apply


def _generator(run: Run, store: str, start_seqs: dict, duration: float, tag: str):
    cfg = {
        "store": store, "shards": SHARDS, "rate": RATE, "flush": FLUSH_S,
        "redeliver_share": REDELIVER_SHARE, "redeliver_window": REDELIVER_WINDOW,
        "seed": run.seed, "start_seqs": start_seqs, "rid_base": 1,
        "duration": duration, "start_at": time.time() + 1.5,
    }
    path = run.path(f"loadgen-{tag}.json")
    with open(path, "w") as f:
        json.dump(cfg, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "logbench", "loadgen.py"),
         "--config", path, "--out", run.path(f"loadgen-{tag}.out.json")],
        stdin=subprocess.DEVNULL,
    )
    run.rss.exclude.add(proc.pid)  # the load generator is not the system under test
    return cfg, proc


def _rollup_totals(spark, run: Run) -> tuple[int, int]:
    from pyspark.sql import functions as F

    from spark_streaming_logservice_spark.streaming.rollup import read_rollup

    if not os.path.isdir(run.path("rollup")):
        return 0, 0
    row = read_rollup(spark, run.path("rollup"), levels=("day",)).agg(
        F.sum("n_events").alias("e"), F.sum("n_errors").alias("r")
    ).first()
    return int(row["e"] or 0), int(row["r"] or 0)


def _count_files(path: str) -> int:
    """Parquet data files anywhere under ``path``."""
    return sum(
        f.endswith(".parquet") and not f.startswith(".")
        for _dir, _dirs, files in os.walk(path) for f in files
    )


def session(spark, run: Run, store: str, history_end: dict, window_s: float,
            tag: str, wrap=None) -> dict:
    """Start the stream, drive the generator for warm-up + window, wait for
    the stream to cover every group, stop, and check the rollup."""
    t0 = timer()
    q = _start_query(spark, run, store, _pipeline(run, wrap))
    log = ProgressLog(q)
    gen = None
    try:
        # first trigger resolves `latest` before any live group is written
        log.wait(lambda lg: bool(lg.batches) or q.status.get("message", "").startswith("Waiting"),
                 60, 0.05)
        start_s = timer() - t0
        cfg, gen = _generator(run, store, history_end, WARMUP_S + window_s, tag)
        window_start = cfg["start_at"] + WARMUP_S
        while time.time() < window_start:
            log.poll()
            time.sleep(0.2)
        cpu0, steal = tree_cpu_s(exclude={gen.pid}), StealMeter()
        reaped0 = resource.getrusage(resource.RUSAGE_CHILDREN)
        while gen.poll() is None:
            log.poll()
            if not q.isActive:
                break
            time.sleep(0.2)
        gen.wait()
        # reaping the generator adds its CPU to ours; take it out again
        reaped1 = resource.getrusage(resource.RUSAGE_CHILDREN)
        gen_cpu = (reaped1.ru_utime + reaped1.ru_stime) - (reaped0.ru_utime + reaped0.ru_stime)
        with open(run.path(f"loadgen-{tag}.out.json")) as f:
            sent = json.load(f)
        last = {g["shard"]: g["end_seq"] for g in sent["groups"]}
        covered = log.wait(
            lambda lg: any(
                all(end_offset(p).get(s, 0) >= e for s, e in last.items())
                for p in lg.nonempty()
            ),
            DRAIN_TIMEOUT_S,
        )
        cpu_s = tree_cpu_s() - cpu0 - gen_cpu
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        q.stop()
    log.poll()
    batches = log.nonempty()
    n_events, n_errors = _rollup_totals(spark, run)
    ok = covered and (n_events, n_errors) == (sent["distinct"], sent["errors"])
    run.check(ok, f"live {tag}: rollup sums {n_events}/{n_errors} != generator "
                  f"distinct {sent['distinct']}/{sent['errors']}")
    # latency per group due inside the timed window
    lat, late = [], []
    commits = [(committed_at(p), end_offset(p)) for p in batches]
    for g in sent["groups"]:
        late.append(g["written"] - g["due"])
        if g["due"] < window_start:
            continue
        hit = next((c for c, e in commits if e.get(g["shard"], 0) >= g["end_seq"]), None)
        run.check(hit is not None, f"live {tag}: group never committed")
        if hit is not None:
            lat.append((hit - g["due"]) * 1000.0)
    # rows each batch covered, and the backlog at each commit
    prev, rows, backlog = dict(history_end), [], []
    for c, e in commits:
        rows.append(sum(e.get(s, prev[s]) - prev[s] for s in prev))
        prev = {s: max(prev[s], e.get(s, prev[s])) for s in prev}
        written = sum(g["rows"] for g in sent["groups"] if g["written"] <= c)
        backlog.append(written - sum(prev[s] - history_end[s] for s in prev))
    in_window = [g for g in sent["groups"] if g["due"] >= window_start]
    return {
        "latency_ms": lat, "late_s": late, "batches": batches, "batch_rows": rows,
        "backlog": backlog, "sent": sent, "start_s": start_s, "cpu_s": cpu_s,
        "steal": steal.share(),
        "window_rows": sum(g["rows"] for g in in_window),
        "window_span_s": (max(commits[-1][0], window_start + window_s) - window_start)
        if commits else float("nan"),
    }


def setup(run: Run):
    from logbench.common import boot_spark

    gen_s = []
    for i in range(run.gen_repeats):
        store = run.path(f"live-{i}", "proj", "live")
        t0 = timer()
        ends = make_history(store, run.seed)
        gen_s.append(timer() - t0)
    t0 = timer()
    spark = boot_spark(run)
    from spark_streaming_logservice_spark.sources.logstore import register

    register(spark)
    boot_s = timer() - t0
    run.section("stream_live").update(
        shards=SHARDS, offered_rows_per_s=RATE, flush_interval_s=FLUSH_S,
        redelivery_share=REDELIVER_SHARE, history_groups_per_shard=HISTORY_GROUPS,
        history_rows=HISTORY_GROUPS * HISTORY_ROWS_PER_GROUP * SHARDS,
        warmup_excluded_s=WARMUP_S, loop="open", gen_s=[round(x, 3) for x in gen_s],
        boot_s=round(boot_s, 3),
    )
    return spark, store, ends, median(gen_s) + boot_s


def timed(run: Run) -> None:
    spark, store, ends, setup_s = setup(run)
    s = session(spark, run, store, ends, run.seconds, "timed")
    lat = s["latency_ms"]
    # set-up also covers starting the stream and the warm-up part of the
    # generator's schedule, which the latency samples exclude
    run.metric("setup_s", setup_s + s["start_s"] + WARMUP_S, "s")
    run.metric("cpu_s_per_op", s["cpu_s"] / run.seconds, "s")
    run.wall("throughput_per_s", s["window_rows"] / s["window_span_s"], "1/s")
    run.wall("latency_p50_ms", median(lat), "ms", len(lat))
    run.wall("latency_p90_ms", percentile(lat, 90), "ms", len(lat))
    run.wall("latency_p99_ms", percentile(lat, 99), "ms", len(lat))
    run.section("stream_live").update(
        batches=len(s["batches"]), host_steal_share=s["steal"],
        generator_late_max_s=round(max(s["late_s"]), 4),
        backlog_max_rows=max(s["backlog"], default=0),
    )


def traced(run: Run, tracer, out: dict) -> None:
    spark, store, ends, _ = setup(run)

    def wrap(kind, fn):
        def apply(df, batch_id):
            with tracer.span("dedup_store.dedup_on_ingest", f"live-{batch_id}"):
                fn(df, batch_id)

        def forward(df, batch_id):
            tid = f"live-{batch_id}"
            with tracer.span("live.forward", tid):
                # count the (cached) novel set first, so the dedup work is
                # timed apart from the rollup merge
                with tracer.span("dedup_store.novel_rows", tid) as sp:
                    sp["rows"] = df.count()
                with tracer.span("rollup.incremental_rollup_writer", tid):
                    fn(df, batch_id)

        return apply if kind == "apply" else forward

    s = session(spark, run, store, ends, run.seconds, "traced", wrap)
    b = s["batches"]
    for p in b:
        t1 = committed_at(p)
        tracer.add("stream.trigger", f"live-{p['batchId']}",
                   t1 - p["durationMs"]["triggerExecution"] / 1000.0, t1,
                   rows=p["numInputRows"])

    def med(name):
        return (median(tracer.durations_ms(name)), "ms")

    out["live.latest_offset_ms"] = (median([p["durationMs"].get("latestOffset", 0) for p in b]), "ms")
    out["live.batch_ms"] = (median([p["durationMs"]["triggerExecution"] for p in b]), "ms")
    out["live.batch_rows"] = (median(s["batch_rows"]), "rows")
    out["live.apply_ms"] = med("dedup_store.dedup_on_ingest")
    out["live.forward_ms"] = med("live.forward")
    # the apply's own time: digesting, the store probe set-up, the digest
    # append and the marker, i.e. everything but the forward
    out["live.digest_append_ms"] = (median(tracer.self_ms("dedup_store.dedup_on_ingest")), "ms")
    out["live.dedup_ms"] = med("dedup_store.novel_rows")
    out["live.rollup_ms"] = med("rollup.incremental_rollup_writer")
    out["live.source_reads_per_row"] = (
        sum(p["numInputRows"] for p in b) / max(1, sum(s["batch_rows"])), "ratio")
    out["live.novel_ratio"] = (s["sent"]["distinct"] / s["sent"]["sent"], "ratio")
    out["live.digest_files"] = (_count_files(run.path("digests")), "count")
    out["live.store_files"] = (_count_files(store), "count")
    out["live.backlog_max_rows"] = (max(s["backlog"], default=0), "rows")
    out["live.generator_late_max_s"] = (max(s["late_s"]), "s")
    out["trace.stream_live.latency_p50_ms"] = (median(s["latency_ms"]), "ms")
