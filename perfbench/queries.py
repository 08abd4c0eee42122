"""query_suite: bench.py's 21 headline registry queries, builder included.

Closed loop, one client: one pass runs every query in ``HEADLINE``
order, each timed from its ``builder()`` call until its result is
collected, so work a builder does eagerly (quantizer training,
materialized intermediates) is counted.  The tables are a seeded,
fixture-shaped set (``gen.tables``) at scale factor ``SF``.  The order
is fixed, not seeded: the first queries of a fresh process pay its
code-generation warm-up, and a seeded order moves that cost between
queries from run to run.

Output check: each collected result is compared with the registry's
DuckDB oracle over the same files.

The traced run also makes the isolated index and serving calls of
``perfbench.serve`` over a seeded vector log.
"""

from __future__ import annotations

import os
import time

from perfbench import gen, harness, trace
from perfbench.harness import Ctx, Result, median

SF = 0.002
SETUP_REPS = 3
HEADLINE = [
    "q10_agg_pricing_summary",
    "q05_join_multiway",
    "q16_window_frames",
    "q17_topk_per_group",
    "q26_cdc_append",
    "q27_cdc_upsert_latest",
    "w_session_per_user",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "sim_topk_bruteforce",
    "sim_ann_ivf",
    "sim_ann_ivf_pq",
    "text_quality",
    "mm_decode_metadata",
    "q51_shipping_priority",
    "q53_region_share",
    "dedup_span_ngram",
    "sim_quantize_pq",
    "text_export_shards",
    "q84_range_join_binned",
    "w_gapfill_locf",
]


def one_pass(spark, registry, tables: str, tracer: trace.Tracer | None = None):
    """Run every query once; returns {name: (build_s, exec_s, result)}.
    Execution collects the result (at most a few 10k rows here), which
    is what the output check compares."""
    out = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        if tracer is None:
            df = registry[name].builder(spark, tables)
            t1 = time.perf_counter()
            pdf = df.toPandas()
        else:
            with trace.job_group(spark, f"query.{name}"):
                with tracer.span(f"query.{name}.build", "operators"):
                    df = registry[name].builder(spark, tables)
                t1 = time.perf_counter()
                with tracer.span(f"query.{name}.exec", "operators"):
                    pdf = df.toPandas()
        out[name] = (t1 - t0, time.perf_counter() - t1, pdf)
    return out


def oracles(ctx: Ctx, registry, tables: str) -> dict:
    """The registry oracles' results over ``tables``, computed by DuckDB
    once per seed and cached beside the tables."""
    import duckdb
    import pandas as pd

    from cdc_platform_spark.sources.registry import TABLES

    names = [n for n in HEADLINE if registry[n].oracle]

    def build(out: str) -> None:
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        for n in names:
            con.sql(registry[n].oracle).df().to_parquet(f"{out}/{n}.parquet")

    path = gen.cached(ctx.cache, f"{os.path.basename(tables)}-oracle", build)
    return {n: pd.read_parquet(f"{path}/{n}.parquet") for n in names}


def check(results: dict, want: dict, res: Result) -> None:
    from perfbench.check import frame_diff

    for name, (_, _, got) in results.items():
        if name in want:
            diff = frame_diff(got, want[name])
            if diff:
                res.mismatch(f"query {name} vs DuckDB oracle: {diff}")


def run(ctx: Ctx) -> Result:
    from cdc_platform_spark.operators import load_all
    from cdc_platform_spark.sources.registry import TABLES, load_table

    res = Result()
    tables = gen.tables(ctx.cache, ctx.seed, SF)
    registry = load_all()
    spark, spark_start = harness.start_spark(ctx)
    start_to_warm = time.perf_counter() - ctx.t_process
    # set-up: open every table (schema from the parquet footer)
    loads = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        for t in TABLES:
            load_table(spark, t, tables).schema
        loads.append(time.perf_counter() - t0)
    setup_s = start_to_warm + median(loads)
    want = oracles(ctx, registry, tables)
    harness.log(f"spark start {spark_start:.2f} s, table loads {[round(x, 2) for x in loads]}")
    res.layers["session.spark_start_s"] = spark_start

    if ctx.trace:
        traced(ctx, spark, registry, tables, want, res)
        spark.stop()
        return res

    passes = []
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or not passes:
        results = one_pass(spark, registry, tables)
        res.attempted += len(HEADLINE)
        passes.append(sum(b + e for b, e, _ in results.values()))
        harness.log(f"pass {len(passes)}: {passes[-1]:.2f} s")
    check(results, want, res)
    res.e2e = {
        "setup_s": setup_s,
        "throughput_per_s": len(HEADLINE) / median(passes),
    }
    spark.stop()
    return res


def traced(ctx: Ctx, spark, registry, tables: str, want: dict, res: Result) -> None:
    """One traced pass (as cold as the untraced run's first pass), then
    the isolated index and serving calls."""
    from perfbench import serve

    L = res.layers
    tracer = trace.Tracer()
    with tracer.span("query.pass", "operators") as root:
        results = one_pass(spark, registry, tables, tracer)
    res.attempted += len(HEADLINE)
    check(results, want, res)
    for name, (b, e, _) in results.items():
        L[f"query.{name}.s"] = b + e
    L["query.build_s"] = sum(b for b, _, _ in results.values())
    L["query.exec_s"] = sum(e for _, e, _ in results.values())
    L["query.tasks"] = sum(trace.group_tasks(spark, f"query.{n}") for n in HEADLINE)
    # the instrumentation's own cost: one job-group switch and two spans
    # per query, timed in isolation, as a share of the traced pass
    probe = trace.Tracer()
    t0 = time.perf_counter()
    for _ in range(200):
        with trace.job_group(spark, "overhead"), probe.span("x", "x"), probe.span("y", "y"):
            pass
    per_query_s = (time.perf_counter() - t0) / 200
    L["trace.overhead_pct"] = 100.0 * per_query_s * len(HEADLINE) / root.dur
    L["trace.coverage"] = sum(tracer.self_times(root).values()) / root.dur
    serve.probe(ctx, spark, res, tracer)
    L["session.jvm_rss_peak_mb"] = harness.jvm_rss_peak_mb(spark)
    tracer.dump(ctx.spans_path)
