"""Stateful streaming operator + update-mode aggregation + dynamic config
(F6 fixture of TEST/LoghubSinkSuite.scala:171-202; O12 hot reload)."""

from __future__ import annotations

import json
import os
import time

import pytest

from pyspark.sql import functions as F

from spark_streaming_logservice_spark import fixtures
from spark_streaming_logservice_spark.sources.logstore import register
from spark_streaming_logservice_spark.streaming.stateful import running_user_totals


@pytest.fixture()
def store(tmp_path, spark):
    register(spark)
    path = str(tmp_path / "proj" / "state-store")
    # msg values double as user ids: users 1,1,2,2,3
    from spark_streaming_logservice_spark.sources import store_backend as be

    rows = [
        {"time": 1_700_000_000 + i, "topic": "t", "source": "s",
         "contents": {"user": str(u), "value": str(v)}, "tags": {}}
        for i, (u, v) in enumerate([(1, 10.0), (1, 5.0), (2, 7.0), (2, 3.0), (3, 1.0)])
    ]
    be.append_rows(path, 0, rows)
    return path


def test_update_mode_aggregation(spark, store, tmp_path):
    # F6: groupBy().count() in update mode written per-batch.
    df = (
        spark.readStream.format("logstore")
        .schema("user STRING, value DOUBLE")
        .option("path", store)
        .option("startingOffsets", "earliest")
        .load()
        .groupBy("user")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )
    q = (
        df.writeStream.format("memory")
        .queryName("upd_agg")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["user"]: (r["n"], r["total"]) for r in spark.sql("SELECT * FROM upd_agg").collect()}
    assert rows == {"1": (2, 15.0), "2": (2, 10.0), "3": (1, 1.0)}


def test_stateful_running_totals_across_batches(spark, store, tmp_path):
    # State persists across micro-batches: cap 2 records/trigger forces
    # multiple batches; the final per-user totals must reflect ALL batches.
    sdf = (
        spark.readStream.format("logstore")
        .schema("user STRING, value DOUBLE")
        .option("path", store)
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", "2")
        .load()
    )
    totals = running_user_totals(sdf, key_col="user", value_col="value")
    q = (
        totals.writeStream.format("memory")
        .queryName("run_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(processingTime="0.2 seconds")
        .start()
    )
    deadline = time.time() + 60
    want = {1: (2, 15.0), 2: (2, 10.0), 3: (1, 1.0)}
    got = {}
    while time.time() < deadline:
        # memory sink in update mode appends rows; latest row per key wins
        for r in spark.sql("SELECT * FROM run_totals").collect():
            got[r["user_id"]] = (r["n_events"], r["total_value"])
        if got == want:
            break
        time.sleep(0.3)
    q.stop()
    q.awaitTermination(30)
    assert got == want


def test_dynamic_config_hot_reload(spark, store, tmp_path):
    # O12: cap starts tiny; mid-stream the _config file raises it; later
    # batches may carry more rows per trigger than the original cap allows.
    from spark_streaming_logservice_spark.sources import store_backend as be

    sdf = (
        spark.readStream.format("logstore")
        .schema("user STRING, value DOUBLE")
        .option("path", store)
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", "1")
        .load()
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck3")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(processingTime="0.2 seconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        try:
            if spark.read.parquet(out).count() >= 2:
                break
        except Exception:
            pass
        time.sleep(0.2)
    # raise the cap live, then append a burst in ONE second bucket
    os.makedirs(os.path.join(store, "_config"), exist_ok=True)
    with open(os.path.join(store, "_config", "options.json"), "w") as f:
        json.dump({"maxOffsetsPerTrigger": 1000}, f)
    rows = [
        {"time": 1_700_001_000, "topic": "t", "source": "s",
         "contents": {"user": "9", "value": "1"}, "tags": {}}
        for _ in range(20)
    ]
    be.append_rows(store, 0, rows)
    deadline = time.time() + 60
    while time.time() < deadline:
        try:
            if spark.read.parquet(out).count() >= 25:
                break
        except Exception:
            pass
        time.sleep(0.2)
    big_batches = [
        p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 5
    ]
    q.stop()
    q.awaitTermination(30)
    assert spark.read.parquet(out).count() == 25
    assert big_batches, "cap raise should allow a >5-row batch for the burst"


def test_rate_limit_fast_path_near_head(spark, tmp_path):
    # Records within 60s of "now" skip the rate cap entirely
    # (the reference's low-lag fast path).
    import time as _t

    from spark_streaming_logservice_spark.sources import store_backend as be

    register_path = str(tmp_path / "p" / "fresh-store")
    now = int(_t.time())
    be.append_rows(
        register_path,
        0,
        [
            {"time": now - 5 + i, "topic": "t", "source": "s",
             "contents": {"msg": str(i)}, "tags": {}}
            for i in range(10)
        ],
    )
    sdf = (
        spark.readStream.format("logstore")
        .schema("msg STRING")
        .option("path", register_path)
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", "2")
        .load()
    )
    q = (
        sdf.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # single-batch fallback + fast path: ALL 10 records arrive despite cap=2
    assert spark.read.parquet(str(tmp_path / "out")).count() == 10


def test_rate_limit_budget_is_global_not_per_shard(tmp_path):
    """A hot shard must be able to draw the WHOLE maxOffsetsPerTrigger
    budget when other shards are idle (SQL/LoghubSource.scala:122's single
    global min-time histogram walk) — not cap // n_shards."""
    from pyspark.sql.types import StringType, StructField, StructType

    from spark_streaming_logservice_spark.sources import store_backend as be
    from spark_streaming_logservice_spark.sources.logstore import LogstoreStreamReader

    path = str(tmp_path / "p" / "skew-store")
    base = 1_700_000_000  # far in the past → no fast path
    be.append_rows(
        path, 0,
        [{"time": base + i, "topic": "t", "source": "s",
          "contents": {"msg": str(i)}, "tags": {}} for i in range(8)],
    )
    be.append_rows(
        path, 1,
        [{"time": base + 100, "topic": "t", "source": "s",
          "contents": {"msg": "z"}, "tags": {}}],
    )
    schema = StructType([StructField("msg", StringType())])
    reader = LogstoreStreamReader(
        schema,
        {"path": path, "startingoffsets": "earliest", "maxoffsetspertrigger": "4"},
    )
    o0 = reader.initialOffset()
    o1 = reader.latestOffset()
    from spark_streaming_logservice_spark import offsets as off

    s = off.StreamOffset.from_dict(o0).shard_seqs
    e = off.StreamOffset.from_dict(o1).shard_seqs
    n0 = sum(1 for _ in be.read_rows(path, 0, s[0], e[0]))
    n1 = sum(1 for _ in be.read_rows(path, 1, s[1], e[1]))
    # hot shard gets the full budget of 4 (old per-shard split gave it 2)
    assert n0 == 4, (s, e)
    assert n1 == 0
    # next trigger continues the walk
    o2 = reader.latestOffset()
    e2 = off.StreamOffset.from_dict(o2).shard_seqs
    assert sum(1 for _ in be.read_rows(path, 0, e[0], e2[0])) == 4


def test_histogram_bounded_scan_same_walk(tmp_path):
    """The budget-bounded histogram must agree with the unbounded one over
    the region the rate walk can actually reach (≥ max_records rows)."""
    from spark_streaming_logservice_spark.sources import store_backend as be

    path = str(tmp_path / "p" / "hist-store")
    base = 1_700_000_000
    # 40 appends → 40 row groups, 25 rows each, one second apart
    for i in range(40):
        be.append_rows(
            path, 0,
            [{"time": base + i, "topic": "t", "source": "s",
              "contents": {"msg": f"{i}-{j}"}, "tags": {}} for j in range(25)],
        )
    full = be.second_histogram(path, 0, 0)
    bounded = be.second_histogram(path, 0, 0, max_records=100)
    assert len(bounded) < len(full)  # the scan really was truncated
    covered = 0
    for (sec_b, cnt_b), (sec_f, cnt_f) in zip(bounded, full):
        assert (sec_b, cnt_b) == (sec_f, cnt_f)  # prefix-exact
        covered += cnt_b
    assert covered >= 2 * 100  # ceiling kept the 2x-budget margin


def test_bounded_cursor_lookups_match_full_scan(tmp_path):
    """seq_for_time / time_for_seq with footer-stats bounding must agree
    with a brute-force full scan on a multi-file, multi-row-group store."""
    from spark_streaming_logservice_spark.sources import store_backend as be

    path = str(tmp_path / "p" / "cursor-store")
    base = 1_700_000_000
    for i in range(12):
        be.append_rows(
            path, 0,
            [{"time": base + i * 10 + j, "topic": "t", "source": "s",
              "contents": {"m": f"{i}-{j}"}, "tags": {}} for j in range(5)],
        )
    all_rows = sorted(
        ((r["seq"], r["time"]) for r in be.read_rows(path, 0, 0, 2**63 - 1))
    )
    for t_probe in (base - 5, base, base + 37, base + 57, base + 119, base + 500):
        want = min((s for s, t in all_rows if t >= t_probe), default=be.shard_bounds(path, 0)[1])
        assert be.seq_for_time(path, 0, t_probe) == want, t_probe
    for s_probe in (0, all_rows[0][0], all_rows[17][0], all_rows[-1][0], all_rows[-1][0] + 1):
        tail = [t for s, t in all_rows if s >= s_probe]
        want = min(tail) if tail else None
        assert be.time_for_seq(path, 0, s_probe) == want, s_probe


def test_seq_time_index_evicted_when_shard_outgrows_cap(tmp_path, monkeypatch):
    """A shard that grows past the index cap must drop its cached (seq,
    time) arrays, not keep them pinned while the lookups fall back to the
    footer-bounded scans — which must still answer exactly."""
    from spark_streaming_logservice_spark.sources import store_backend as be

    monkeypatch.setattr(be, "_SEQ_TIME_CACHE_MAX_ROWS", 30)
    path = str(tmp_path / "p" / "cap-store")
    key = (os.path.abspath(path), 0)
    base = 1_700_000_000

    def append(i):
        be.append_rows(
            path, 0,
            [{"time": base + i * 10 + j, "topic": "t", "source": "s",
              "contents": {"m": f"{i}-{j}"}, "tags": {}} for j in range(10)],
        )

    append(0)
    append(1)
    first = be.shard_bounds(path, 0)[0]
    assert be.time_for_seq(path, 0, first) == base
    assert key in be._SEQ_TIME_CACHE
    append(2)
    append(3)  # 40 rows > cap
    assert be.time_for_seq(path, 0, first + 25) == base + 25
    assert key not in be._SEQ_TIME_CACHE
    assert be.nth_seq(path, 0, first, 35) == first + 35
    assert be.second_histogram(path, 0, first + 38) == [(base + 38, 1), (base + 39, 1)]
    assert key not in be._SEQ_TIME_CACHE


def test_rate_walk_not_stalled_by_backfill_behind_cursor(tmp_path):
    """Out-of-order backfill (old event times at high seqs) must not pin the
    end boundary behind the cursor: seq_for_time's min_seq clamp guarantees
    per-trigger progress (code-review r2 finding)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from spark_streaming_logservice_spark import offsets as off
    from spark_streaming_logservice_spark.sources import store_backend as be
    from spark_streaming_logservice_spark.sources.logstore import LogstoreStreamReader

    path = str(tmp_path / "p" / "backfill-store")
    # consumed head: seqs 0-4, recent-ish times 100..104
    be.append_rows(path, 0, [
        {"seq": i, "time": 100 + i, "topic": "t", "source": "s",
         "contents": {"msg": f"h{i}"}, "tags": {}} for i in range(5)])
    # backfill: seqs 5-9 with OLDER times 50..54
    be.append_rows(path, 0, [
        {"seq": 5 + i, "time": 50 + i, "topic": "t", "source": "s",
         "contents": {"msg": f"b{i}"}, "tags": {}} for i in range(5)])

    # direct lookup: the clamp keeps the boundary at/after the cursor
    assert be.seq_for_time(path, 0, 52, min_seq=5) == 7
    assert be.seq_for_time(path, 0, 52) == 0  # unclamped would stall at max(st,0)

    schema = StructType([StructField("msg", StringType())])
    reader = LogstoreStreamReader(
        schema, {"path": path, "startingoffsets": "earliest",
                 "maxoffsetspertrigger": "2"})
    reader._last_end = {0: 5}  # consumer cursor past the head rows
    prev = 5
    seen = 0
    for _ in range(6):  # must drain the 5 backfill rows in bounded steps
        end = off.StreamOffset.from_dict(reader.latestOffset()).shard_seqs[0]
        assert end >= prev
        seen += sum(1 for _r in be.read_rows(path, 0, prev, end))
        prev = end
        if seen >= 5:
            break
    assert seen == 5, "rate walk stalled on backfilled shard"


def test_histogram_straddling_group_is_conservative(tmp_path):
    """A row group straddling the cursor must not be counted as budget
    coverage: bounded histogram equals the exact one when stats cannot
    guarantee 2x-budget coverage past the cursor."""
    from spark_streaming_logservice_spark.sources import store_backend as be

    path = str(tmp_path / "p" / "straddle-store")
    base = 1_700_000_000
    # ONE file/row group with 1000 rows; cursor lands near its end
    be.append_rows(path, 0, [
        {"time": base + i, "topic": "t", "source": "s",
         "contents": {"m": str(i)}, "tags": {}} for i in range(1000)])
    from_seq = 990
    assert be.second_histogram(path, 0, from_seq, max_records=10) == \
        be.second_histogram(path, 0, from_seq)


def test_rate_walk_progress_with_inverse_time_interleaving(tmp_path):
    """Newer-time row at a LOWER seq than older-time rows past the cursor:
    a time-cut boundary sits at the cursor forever; the row-count boundary
    (nth_seq) must still drain the shard (code-review r2, second pass)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from spark_streaming_logservice_spark import offsets as off
    from spark_streaming_logservice_spark.sources import store_backend as be
    from spark_streaming_logservice_spark.sources.logstore import LogstoreStreamReader

    path = str(tmp_path / "p" / "inverse-store")
    be.append_rows(path, 0, [
        {"seq": 5, "time": 100, "topic": "t", "source": "s",
         "contents": {"msg": "newer"}, "tags": {}},
        {"seq": 6, "time": 50, "topic": "t", "source": "s",
         "contents": {"msg": "older"}, "tags": {}},
    ])
    schema = StructType([StructField("msg", StringType())])
    reader = LogstoreStreamReader(
        schema, {"path": path, "startingoffsets": "earliest",
                 "maxoffsetspertrigger": "1"})
    reader._last_end = {0: 5}
    prev, seen = 5, 0
    for _ in range(4):
        end = off.StreamOffset.from_dict(reader.latestOffset()).shard_seqs[0]
        assert end >= prev
        seen += sum(1 for _r in be.read_rows(path, 0, prev, end))
        prev = end
        if seen >= 2:
            break
    assert seen == 2, "walk stalled on inverse time/seq interleaving"


def test_e12_ntile_formula_matches_native_ntile(spark):
    """e12's closed-form ntile(4) bucket (over the distributed rank) must
    equal Spark's native ntile(4) for EVERY population size 1..40 — the
    boundary arithmetic (first n%4 buckets one row larger) is exactly where
    an off-by-one would corrupt quartiles silently."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rows = spark.range(1, 41).select(F.col("id").alias("n")).join(
        spark.range(1, 41).select(F.col("id").alias("i")), F.col("i") <= F.col("n")
    )
    native = F.ntile(4).over(
        Window.partitionBy("n").orderBy("i")
    )
    base = F.floor(F.col("n") / 4)
    rem = F.col("n") % 4
    head = rem * (base + 1)
    formula = (
        F.when(F.col("i") <= head, F.ceil(F.col("i") / (base + 1)))
        .otherwise(rem + F.ceil((F.col("i") - head) / F.greatest(base, F.lit(1))))
        .cast("int")
    )
    bad = (
        rows.select("n", "i", native.alias("nt"), formula.alias("fm"))
        .where(F.col("nt") != F.col("fm"))
        .count()
    )
    assert bad == 0
