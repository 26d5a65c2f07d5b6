"""``stream_backfill``: drain a seeded backlog of old-timestamped log groups
on 4 shards through ``readStream.format("logstore")`` at the 65,536-row
trigger cap, with a typed projection and a filter, into
``writeStream.format("logstore")`` with ``hashkeycolumn`` routing and the
exactly-once manifest commit.

Every drain starts a fresh query (new checkpoint, new sink store) over the
same static backlog; its output is checked against the generator's expected
row count and value checksums."""

from __future__ import annotations

import hashlib
import os

import numpy as np

from logbench import logs
from logbench.common import CORES, Run, StealMeter, median, percentile, timer, tree_cpu_s
from logbench.progress import ProgressLog, committed_at

SHARDS = 4
CAP = 65_536
ROWS_PER_SHARD = 32_768
ROWS_PER_GROUP = 4_096
ROWS_PER_SECOND_PER_SHARD = 64
BASE_TIME = 1_700_000_000  # 2023-11-14: far older than the 60 s fast path
SOURCE_DDL = (
    "rid STRING, user_id INT, level STRING, latency_ms INT, body STRING, "
    "__time__ TIMESTAMP"
)
DRAIN_TIMEOUT_S = 120


def make_backlog(store: str, seed: int, rows_per_shard: int = ROWS_PER_SHARD) -> dict:
    """Write the backlog and return what a correct drain must produce."""
    rng = np.random.default_rng(seed)
    kept = []
    for shard in range(SHARDS):
        seq = 0
        for g in range(rows_per_shard // ROWS_PER_GROUP):
            idx = np.arange(g * ROWS_PER_GROUP, (g + 1) * ROWS_PER_GROUP)
            rids = shard * rows_per_shard + idx
            times = BASE_TIME + idx // ROWS_PER_SECOND_PER_SHARD
            recs = logs.make_records(rng, rids, times)
            seq = logs.write_group(store, shard, recs, seq)
            keep = recs["level"] != "debug"
            kept.append(logs.take(recs, keep))
    k = logs.concat(kept)
    return {
        "rows_in": SHARDS * rows_per_shard,
        "rows_out": int(len(k["rid"])),
        "sum_latency": int(k["latency_ms"].sum()),
        "sum_user": int(k["user_id"].sum()),
        "sum_time": int(k["t"].sum()),
    }


def _shard_of(user_ids: np.ndarray) -> np.ndarray:
    """Expected sink shard per user id: md5 of the key's decimal string,
    first 8 bytes big-endian, modulo the shard count."""
    table = np.array(
        [
            int.from_bytes(hashlib.md5(str(u).encode()).digest()[:8], "big") % SHARDS
            for u in range(5000)
        ]
    )
    return table[user_ids]


def check_output(sink: str, want: dict) -> bool:
    """Row count, value checksums and hash routing of a drained sink."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from spark_streaming_logservice_spark.sources.store_backend import STORE_ARROW_SCHEMA

    n = s_lat = s_user = s_time = 0
    for shard in range(SHARDS):
        d = os.path.join(sink, f"shard={shard}")
        if not os.path.isdir(d):
            continue
        tbl = ds.dataset(d, schema=STORE_ARROW_SCHEMA, format="parquet").to_table(
            columns=["time", "contents"]
        )
        if tbl.num_rows == 0:
            continue
        c = tbl.column("contents")
        lat = pc.cast(pc.map_lookup(c, "latency_ms", "first"), "int64").to_numpy()
        user = pc.cast(pc.map_lookup(c, "user_id", "first"), "int64").to_numpy()
        if not (_shard_of(user) == shard).all():
            return False
        n += tbl.num_rows
        s_lat += int(lat.sum())
        s_user += int(user.sum())
        s_time += int(pc.sum(tbl.column("time")).as_py())
    return (n, s_lat, s_user, s_time) == (
        want["rows_out"], want["sum_latency"], want["sum_user"], want["sum_time"]
    )


def _pipeline(spark, store: str, sink: str, ck: str):
    from pyspark.sql import functions as F

    return (
        spark.readStream.format("logstore")
        .schema(SOURCE_DDL)
        .option("path", store)
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", str(CAP))
        .load()
        .where(F.col("level") != "debug")
        .select("rid", "user_id", "level", "latency_ms", "body",
                F.col("__time__").alias("ts"))
        .writeStream.format("logstore")
        .option("path", sink)
        .option("shards", str(SHARDS))
        .option("timecolumn", "ts")
        .option("hashkeycolumn", "user_id")
        .option("checkpointLocation", ck)
        .trigger(processingTime="0 seconds")
        .start()
    )


def drain(spark, run: Run, store: str, want: dict, tag: str) -> dict:
    """One full drain in a fresh query; returns its progress and timing."""
    import time

    sink, ck = run.path(f"sink-{tag}"), run.path(f"ck-{tag}")
    cpu0 = tree_cpu_s()
    t0 = time.time()
    q = _pipeline(spark, store, sink, ck)
    log = ProgressLog(q)
    try:
        done = log.wait(lambda lg: lg.rows() >= want["rows_in"], DRAIN_TIMEOUT_S)
    finally:
        q.stop()
    cpu_s = tree_cpu_s() - cpu0
    log.poll()
    trig = log.nonempty()
    ok = done and bool(trig) and check_output(sink, want)
    run.check(ok, f"drain {tag}: output differs from the backlog's expected rows")
    wall = (committed_at(trig[-1]) - t0) if trig else float("nan")
    return {"triggers": trig, "wall_s": wall, "rows": log.rows(), "cpu_s": cpu_s}


def setup(run: Run):
    from logbench.common import boot_spark

    gen_s = []
    for i in range(run.gen_repeats):
        store = run.path(f"backlog-{i}", "proj", "backlog")
        t0 = timer()
        want = make_backlog(store, run.seed)
        gen_s.append(timer() - t0)
    t0 = timer()
    spark = boot_spark(run)
    from spark_streaming_logservice_spark.sources.logstore import register

    register(spark)
    boot_s = timer() - t0
    # warm-up: one drain of a one-group-per-shard backlog through the same
    # pipeline (worker start-up, code generation, first-use imports)
    t0 = timer()
    warm_store = run.path("backlog-warm", "proj", "backlog")
    drain(spark, run, warm_store, make_backlog(warm_store, run.seed, ROWS_PER_GROUP), "warm")
    warm_s = timer() - t0
    run.section("stream_backfill").update(
        shards=SHARDS, backlog_rows=want["rows_in"], rows_out=want["rows_out"],
        max_offsets_per_trigger=CAP, rows_per_group=ROWS_PER_GROUP,
        event_time_base=BASE_TIME, gen_s=[round(x, 3) for x in gen_s],
        boot_s=round(boot_s, 3), warmup_s=round(warm_s, 3),
        warmup_drains_excluded=1,
    )
    return spark, store, want, median(gen_s) + boot_s + warm_s


def timed(run: Run) -> None:
    spark, store, want, setup_s = setup(run)
    drains = []
    steal = StealMeter()
    t_end = timer() + run.seconds
    while timer() < t_end or not drains:
        drains.append(drain(spark, run, store, want, f"d{len(drains)}"))
    trig_ms = [p["durationMs"]["triggerExecution"] for d in drains for p in d["triggers"]]
    rates = [want["rows_in"] / d["wall_s"] for d in drains]
    run.metric("setup_s", setup_s, "s")
    run.metric("cpu_s_per_op", median([d["cpu_s"] for d in drains]), "s", len(drains))
    run.wall("throughput_per_s", median(rates), "1/s", len(rates))
    run.wall("latency_p50_ms", median(trig_ms), "ms", len(trig_ms))
    run.wall("latency_p90_ms", percentile(trig_ms, 90), "ms", len(trig_ms))
    run.section("stream_backfill").update(
        drains=len(drains), drain_s=[round(d["wall_s"], 3) for d in drains],
        host_steal_share=steal.share())


# ---- traced run --------------------------------------------------------------


def _replay(run: Run, store: str, want: dict, tracer, out: dict) -> float:
    """Drive the stream reader, the store backend and the sink writer by
    direct in-process calls on the same backlog — the work Spark's Python
    workers do for one drain, trigger by trigger."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType, TimestampType,
    )

    from spark_streaming_logservice_spark.sources import store_backend as be
    from spark_streaming_logservice_spark.sources.logstore import (
        LogstoreStreamReader, LogstoreStreamWriter,
    )

    s = StringType()
    src = StructType([
        StructField("rid", s), StructField("user_id", IntegerType()),
        StructField("level", s), StructField("latency_ms", IntegerType()),
        StructField("body", s), StructField("__time__", TimestampType()),
    ])
    dst = StructType(src.fields[:5] + [StructField("ts", TimestampType())])
    reader = LogstoreStreamReader(
        src, {"path": store, "startingoffsets": "earliest", "maxoffsetspertrigger": str(CAP)}
    )
    sink = run.path("sink-replay")
    writer = LogstoreStreamWriter(
        dst, {"path": sink, "shards": str(SHARDS), "timecolumn": "ts",
              "hashkeycolumn": "user_id", "checkpointlocation": run.path("ck-replay")},
        False,
    )
    start, batch, covered = reader.initialOffset(), 0, []
    while True:
        tid = f"replay-{batch}"
        # the store-backend calls latestOffset makes per lagging shard
        for sh, sq in ((int(k), v) for k, v in start.items()):
            with tracer.span("store_backend.time_for_seq", tid):
                be.time_for_seq(store, sh, sq)
            with tracer.span("store_backend.second_histogram", tid):
                be.second_histogram(store, sh, sq, CAP)
            with tracer.span("store_backend.nth_seq", tid):
                be.nth_seq(store, sh, sq, CAP // SHARDS)
        with tracer.span("logstore.latestOffset", tid):
            end = reader.latestOffset()
        if end == start:  # drained: this last probe is not a trigger
            break
        with tracer.span("logstore.partitions", tid):
            parts = reader.partitions(start, end)
        msgs, tasks = [], []
        for p in parts:
            with tracer.span("store_backend.read_batches", tid):
                for _ in be.read_batches(store, p.shard, p.start_seq, p.end_seq):
                    pass
            with tracer.span("logstore.read", tid, shard=p.shard) as r:
                batches = list(reader.read(p))
            r["rows"] = sum(b.num_rows for b in batches)
            # the stream's filter and projection, applied as Spark would
            projected = [
                pa.RecordBatch.from_arrays(
                    b.filter(pc.not_equal(b.column("level"), "debug")).columns,
                    names=[f.name for f in dst.fields],
                )
                for b in batches
            ]
            with tracer.span("logstore.sink_write", tid, shard=p.shard) as w:
                msgs.append(writer.write(iter(projected)))
            w["rows"] = sum(b.num_rows for b in projected)
            tasks.append((r["end"] - r["start"]) + (w["end"] - w["start"]))
        with tracer.span("logstore.sink_commit", tid) as c:
            writer.commit(msgs, batch)
        reader.commit(end)
        # one task per shard on CORES cores: the slowest task sets the stage
        waves = -(-len(parts) // CORES)
        covered.append((max(tasks) * waves + (c["end"] - c["start"])) * 1000.0)
        start, batch = end, batch + 1
    run.check(check_output(sink, want), "in-process replay: sink output differs")
    triggers = [f"replay-{i}" for i in range(batch)]

    def per_trigger(name):
        totals = tracer.by_trace(name)
        return (median([totals.get(t, 0.0) for t in triggers]), "ms")

    def per_64k(name):
        spans = [s for s in tracer.spans if s["name"] == name]
        secs = sum(s["end"] - s["start"] for s in spans)
        return (secs / sum(s["rows"] for s in spans) * CAP * 1000.0, "ms")

    out["logstore.latest_offset_ms"] = per_trigger("logstore.latestOffset")
    out["logstore.partitions_ms"] = per_trigger("logstore.partitions")
    out["logstore.read_ms_per_64k"] = per_64k("logstore.read")
    out["logstore.sink_write_ms_per_64k"] = per_64k("logstore.sink_write")
    out["logstore.sink_commit_ms"] = per_trigger("logstore.sink_commit")
    out["store_backend.second_histogram_ms"] = per_trigger("store_backend.second_histogram")
    out["store_backend.nth_seq_ms"] = per_trigger("store_backend.nth_seq")
    out["store_backend.time_for_seq_ms"] = per_trigger("store_backend.time_for_seq")
    out["store_backend.read_batches_ms"] = per_trigger("store_backend.read_batches")
    return median(covered)


def traced(run: Run, tracer, out: dict) -> None:
    spark, store, want, _ = setup(run)
    d = drain(spark, run, store, want, "traced")
    trig = d["triggers"]
    for p in trig:
        t1 = committed_at(p)
        tracer.add("stream.trigger", f"backfill-{p['batchId']}",
                   t1 - p["durationMs"]["triggerExecution"] / 1000.0, t1,
                   rows=p["numInputRows"])

    def med(key):
        return median([p["durationMs"].get(key, 0) for p in trig])

    add_batch = med("addBatch")
    out["backfill.latest_offset_ms"] = (med("latestOffset"), "ms")
    out["backfill.add_batch_ms"] = (add_batch, "ms")
    out["backfill.query_planning_ms"] = (med("queryPlanning"), "ms")
    out["backfill.commit_ms"] = (med("commitOffsets") + med("walCommit"), "ms")
    out["backfill.triggers"] = (len(trig), "count")
    out["backfill.source_reads_per_row"] = (d["rows"] / want["rows_in"], "ratio")
    covered = _replay(run, store, want, tracer, out)
    out["backfill.transport_ms"] = (add_batch - covered, "ms")
    out["trace.stream_backfill.cpu_s_per_op"] = (d["cpu_s"], "s")
