"""``query_mix``: one client runs the 17 headline queries in a fixed order
at sf0.1, closed loop, and reads every result in full with ``toArrow()``.

Each result is compared with the query's DuckDB oracle (``registry.ORACLES``),
computed once in set-up over the same generated parquet files."""

from __future__ import annotations

import math
import os

from logbench.common import Run, StealMeter, median, percentile, timer, tree_cpu_s

# The headline set: one representative per operator family, the same 17
# names as bench.HEADLINE (kept here so the benchmark does not import the
# legacy harness).
HEADLINE = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q07_volume_shipping",
    "q10_returned_items",
    "q13_top_orders_per_customer",
    "l02_tumbling_window_hourly",
    "l07_sessionize",
    "l11_session_window_native",
    "e02_daily_error_rate",
    "d01_exact_dedup",
    "d03_minhash_signatures",
    "s01_cosine_topk",
    "s03_cosine_neardup_pairs",
    "t01_text_stats",
    "m01_multimodal_decode",
    "sr01_logstore_typed_agg",
)
SF = 0.1


def normalize(rows, columns) -> list[tuple]:
    """Order-insensitive comparison form: columns sorted by name, cells
    rendered so float and timestamp representations compare by value, then
    rows sorted (the same rule as the oracle-parity tests)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.9g}"
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    return sorted(tuple(cell(row[i]) for i in order) for row in rows)


def _arrow_rows(tbl) -> list[tuple]:
    cols = [c.to_pylist() for c in tbl.columns]
    return list(zip(*cols)) if cols else []


def _oracles(sf_dir: str) -> dict[str, list[tuple]]:
    import duckdb

    from spark_streaming_logservice_spark import registry
    from spark_streaming_logservice_spark.tables import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in HEADLINE:
            res = con.execute(registry.ORACLES[name])
            cols = [d[0] for d in res.description]
            out[name] = (sorted(cols), normalize(res.fetchall(), cols))
        return out
    finally:
        con.close()


def _pass(spark, run: Run, sf_dir: str, oracle, tracer=None, tag: str = "") -> list[dict]:
    """One pass over the headline queries; returns one record per query."""
    from spark_streaming_logservice_spark import registry

    sc = spark.sparkContext
    out = []
    for name in HEADLINE:
        group = f"{tag}{name}"
        if tracer is not None:
            sc.setJobGroup(group, group)
        cpu0 = tree_cpu_s()
        t0 = timer()
        df = registry.QUERIES[name](spark, sf_dir)
        t1 = timer()
        tbl = df.toArrow()
        t2 = timer()
        rec = {"name": name, "build_ms": (t1 - t0) * 1e3, "exec_ms": (t2 - t1) * 1e3,
               "cpu_ms": (tree_cpu_s() - cpu0) * 1e3}
        if tracer is not None:
            tracer.add("registry.build", group, t0, t1)
            tracer.add("toArrow", group, t1, t2)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            rec["jobs"] = len(jobs)
            rec["stages"] = sum(
                len(info.stageIds)
                for info in (sc.statusTracker().getJobInfo(j) for j in jobs)
                if info is not None
            )
        cols, want = oracle[name]
        got = normalize(_arrow_rows(tbl), tbl.column_names)
        run.check(
            sorted(tbl.column_names) == cols and got == want,
            f"{name}: result differs from its DuckDB oracle",
        )
        out.append(rec)
    if tracer is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out


def setup(run: Run):
    from logbench import tables
    from logbench.common import boot_spark

    gen_s = []
    for i in range(run.gen_repeats):
        sf_dir = run.path(f"sf-{i}")
        t0 = timer()
        sizes = tables.generate(sf_dir, run.seed, SF)
        gen_s.append(timer() - t0)
    t0 = timer()
    spark = boot_spark(run)
    from spark_streaming_logservice_spark import registry

    registry.load_all()
    boot_s = timer() - t0
    t0 = timer()
    oracle = _oracles(sf_dir)
    oracle_s = timer() - t0
    t0 = timer()
    _pass(spark, run, sf_dir, oracle)
    warm_s = timer() - t0
    run.section("query_mix").update(
        sf=SF, rows=sizes, queries=len(HEADLINE), clients=1, loop="closed",
        gen_s=[round(x, 3) for x in gen_s], boot_s=round(boot_s, 3),
        oracle_s=round(oracle_s, 3), warmup_s=round(warm_s, 3),
        warmup_passes_excluded=1,
    )
    setup_s = median(gen_s) + boot_s + oracle_s + warm_s
    return spark, sf_dir, oracle, setup_s


def timed(run: Run) -> None:
    spark, sf_dir, oracle, setup_s = setup(run)
    recs, passes = [], []
    steal = StealMeter()
    t_end = timer() + run.seconds
    while timer() < t_end or not passes:
        t0 = timer()
        recs += _pass(spark, run, sf_dir, oracle)
        passes.append(timer() - t0)
    lat = [r["build_ms"] + r["exec_ms"] for r in recs]
    cpu_s = sum(r["cpu_ms"] for r in recs) / 1e3
    run.metric("setup_s", setup_s, "s")
    run.metric("cpu_s_per_op", cpu_s / len(passes), "s", len(passes))
    run.wall("pass_s", median(passes), "s", len(passes))
    run.wall("throughput_per_s", len(lat) / (sum(lat) / 1e3), "1/s", len(lat))
    run.wall("latency_p50_ms", median(lat), "ms", len(lat))
    run.wall("latency_p90_ms", percentile(lat, 90), "ms", len(lat))
    run.section("query_mix").update(passes=len(passes), host_steal_share=steal.share())


def traced(run: Run, tracer, out: dict) -> None:
    spark, sf_dir, oracle, _ = setup(run)
    recs = _pass(spark, run, sf_dir, oracle, tracer=tracer, tag="traced-")
    for r in recs:
        out[f"query.{r['name']}.build_ms"] = (r["build_ms"], "ms")
        out[f"query.{r['name']}.exec_ms"] = (r["exec_ms"], "ms")
        out[f"query.{r['name']}.jobs"] = (r["jobs"], "count")
    out["query_mix.build_ms"] = (sum(r["build_ms"] for r in recs), "ms")
    out["query_mix.exec_ms"] = (sum(r["exec_ms"] for r in recs), "ms")
    out["query_mix.jobs"] = (sum(r["jobs"] for r in recs), "count")
    out["query_mix.stages"] = (sum(r["stages"] for r in recs), "count")
    out["trace.query_mix.cpu_s_per_op"] = (sum(r["cpu_ms"] for r in recs) / 1e3, "s")
