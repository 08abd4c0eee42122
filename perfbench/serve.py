"""Index and serving layers: isolated calls, made in query_suite's traced run.

Two ANN index views share one frozen quantizer: a
``BucketedIvfFlatIndexSink`` and a ``BucketedIvfPqIndexSink``.  They
take an initial load of seeded embedding vectors, then ``CYCLES`` seeded
deltas (updates, deletes, near-duplicate inserts).  After each delta a
fixed mix of serving reads runs, each built and executed inside
``run_stable``'s check-read-recheck bracket.  A compact of both indexes
follows the last cycle.

The quantizer is Lloyd's initialisation without iterations: IVF
centroids and PQ codewords are seeded picks of initial vectors.
Training is measured by the query suite (``sim_ann_ivf*``).

Output check: every read in the mix over the incrementally maintained
indexes must equal the same read over fresh indexes loaded once from the
final live vectors.
"""

from __future__ import annotations

import time

import numpy as np

from perfbench import gen, trace
from perfbench.harness import Ctx, Result, median

LOG = dict(n_vecs=500, n_deltas=1, delta=dict(update=10, delete=3, insert=5))
CYCLES = 1
N_BUCKETS = 8
N_CELLS = 8
PQ_K = 8
SINKS = ("ivf_flat", "ivf_pq")


class Quantizer:
    def __init__(self, spark, vecs, seed: int) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from cdc_platform_spark.operators.dedup import dot_long
        from cdc_platform_spark.operators.similarity import pq_subvectors

        rng = np.random.default_rng(seed)
        picks = rng.choice(LOG["n_vecs"], N_CELLS + PQ_K, replace=False).tolist()
        ivf_ids = spark.createDataFrame([(int(i),) for i in picks[:N_CELLS]], "cent_id long")
        seeds = spark.createDataFrame([(int(i),) for i in picks[N_CELLS:]], "cent_id long")
        self.cents = (
            vecs.join(ivf_ids, vecs.vec_id == ivf_ids.cent_id)
            .select("cent_id", F.col("a").alias("ca"), dot_long(F.col("a"), F.col("a")).alias("cn"))
        )
        sub = pq_subvectors(vecs.select("vec_id", "a"))
        self.codebooks = sub.join(seeds, sub.vec_id == seeds.cent_id).select("sub", "cent_id", F.col("sa").alias("ca"))
        self.ranks = seeds.withColumn("code", (F.row_number().over(Window.orderBy("cent_id")) - 1).cast("long"))


class Views:
    """The two maintained indexes over one directory."""

    def __init__(self, wd: str, q: Quantizer) -> None:
        from cdc_platform_spark.streaming.ann_index import BucketedIvfFlatIndexSink, BucketedIvfPqIndexSink

        self.q = q
        self.sinks = {
            "ivf_flat": BucketedIvfFlatIndexSink(f"{wd}/flat", q.cents, n_buckets=N_BUCKETS),
            "ivf_pq": BucketedIvfPqIndexSink(f"{wd}/pq", q.cents, q.codebooks, q.ranks, n_buckets=N_BUCKETS),
        }

    def apply(self, vecs, tracer: trace.Tracer | None = None, spark=None) -> None:
        for name, sink in self.sinks.items():
            if tracer is None:
                sink.write(vecs)
            else:
                with trace.job_group(spark, f"index.{name}"), tracer.span(f"index.{name}.write", f"index.{name}"):
                    sink.write(vecs)

    def reads(self, spark) -> dict:
        """name -> (build the read's DataFrame, fingerprint of the state it reads)."""
        from cdc_platform_spark.streaming.ann_index import (
            ivf_cluster_sample_from_index,
            ivf_drift_from_index,
            ivf_pq_search_from_index,
            ivf_search_from_index,
            pq_recon_from_index,
        )

        flat, pq, q = self.sinks["ivf_flat"], self.sinks["ivf_pq"], self.q

        def fp():
            return flat.state_fingerprint() + pq.state_fingerprint()

        def flat_fp():
            return flat.state_fingerprint()

        return {
            "ivf_search": (lambda: ivf_search_from_index(flat.state(spark), q.cents), flat_fp),
            "ivf_pq_search": (
                lambda: ivf_pq_search_from_index(pq.state(spark), flat.state(spark), q.cents, q.codebooks, q.ranks),
                fp,
            ),
            "ivf_drift": (lambda: ivf_drift_from_index(flat.state(spark), q.cents), flat_fp),
            "cluster_sample": (lambda: ivf_cluster_sample_from_index(flat.state(spark)), flat_fp),
            "pq_recon": (lambda: pq_recon_from_index(flat.state(spark), q.codebooks), flat_fp),
        }


class Log:
    """The generated vector log as per-cycle DataFrames."""

    def __init__(self, spark, path: str) -> None:
        from pyspark.sql import functions as F

        from cdc_platform_spark.operators.dedup import fixed_point

        self.F = F
        self.vecs = spark.read.parquet(f"{path}/vecs.parquet").select(
            "vec_id", "offset", "op", fixed_point(F.col("embedding")).alias("a"), "cycle"
        )

    def cycle(self, k: int):
        return self.vecs.filter(self.F.col("cycle") == k).drop("cycle")

    def live_through(self, k: int):
        """Latest row per vec_id over cycles 0..k, deletes dropped."""
        from pyspark.sql import Window

        F = self.F
        w = Window.partitionBy("vec_id").orderBy(F.col("offset").desc())
        return (
            self.vecs.filter(F.col("cycle") <= k)
            .withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("op") != "d"))
            .drop("_rn", "cycle")
        )


def timed_read(make_df, fingerprint) -> tuple[float, int]:
    """One serving read under run_stable; returns (seconds, attempts)."""
    from cdc_platform_spark.streaming.serving import run_stable

    probes = [0]

    def fp():
        probes[0] += 1
        return fingerprint()

    t0 = time.perf_counter()
    run_stable(lambda: make_df().write.format("noop").mode("overwrite").save(), fp)
    return time.perf_counter() - t0, probes[0] // 2


def check(spark, ctx: Ctx, log: Log, views: Views, last_cycle: int, res: Result) -> None:
    from perfbench.check import frame_diff

    fresh = Views(ctx.fresh("fresh_views"), views.q)
    fresh.apply(log.live_through(last_cycle))
    got, want = views.reads(spark), fresh.reads(spark)
    for name in got:
        diff = frame_diff(got[name][0]().toPandas(), want[name][0]().toPandas())
        if diff:
            res.mismatch(f"serve read {name} after cycle {last_cycle} vs from-scratch indexes: {diff}")


def probe(ctx: Ctx, spark, res: Result, tracer: trace.Tracer) -> None:
    """Initial load, ``CYCLES`` delta-then-read-mix cycles with a compact
    after the last, and the from-scratch check; per-layer metrics into
    ``res.layers``."""
    from pyspark.sql import functions as F

    L = res.layers
    log = Log(spark, gen.vector_log(ctx.cache, ctx.seed, **LOG))
    q = Quantizer(spark, log.cycle(0), ctx.seed)
    views = Views(ctx.fresh("views"), q)
    with tracer.span("index.load", "index") as load:
        views.apply(log.cycle(0))
    reads = views.reads(spark)
    per_read = {n: [] for n in reads}
    updates, attempts = [], 0
    for k in range(1, CYCLES + 1):
        with tracer.span("index.update", "index") as up:
            views.apply(log.cycle(k), tracer=tracer, spark=spark)
        updates.append(up.dur)
        res.attempted += len(SINKS)
        for name, (make_df, fp) in reads.items():
            res.attempted += 1
            with trace.job_group(spark, f"serve.{name}"), tracer.span(f"serve.{name}", "serving"):
                try:
                    dt, n = timed_read(make_df, fp)
                except Exception as e:  # noqa: BLE001 - exhausted run_stable or a raised read
                    res.failed += 1
                    res.mismatch(f"read {name} raised {type(e).__name__}: {str(e)[:200]}")
                    continue
            attempts += n
            per_read[name].append(dt)
    # every delta is applied, so no redelivery can go below the next offset:
    # the compaction may drop every tombstone
    horizon = log.vecs.agg(F.max("offset")).first()[0] + 1
    with tracer.span("index.compact", "index") as comp:
        for sink in views.sinks.values():
            sink.compact(spark, tombstone_horizon=horizon)
    res.attempted += len(SINKS)
    check(spark, ctx, log, views, CYCLES, res)

    L["index.load_s"] = load.dur
    L["index.view_update_p50_s"] = median(updates)
    for name in SINKS:
        spans = [s.dur for s in tracer.spans if s.layer == f"index.{name}"]
        L[f"index.{name}.write_s"] = median(spans)
        L[f"index.{name}.tasks"] = trace.group_tasks(spark, f"index.{name}") / len(spans)
        stats = views.sinks[name].state_stats(spark)
        L[f"index.{name}.state_rows"] = stats["rows"]
        L[f"index.{name}.state_bytes"] = stats["bytes"]
    L["index.compact_s"] = comp.dur
    for name, xs in per_read.items():
        L[f"serve.{name}.p50_s"] = median(xs) if xs else 0.0
    n_reads = sum(len(xs) for xs in per_read.values())
    L["serve.torn_retries"] = (attempts - n_reads) / max(n_reads, 1)
    fp = reads["ivf_pq_search"][1]
    t0 = time.perf_counter()
    for _ in range(100):
        fp()
    L["serve.fingerprint_ms"] = (time.perf_counter() - t0) * 10.0
