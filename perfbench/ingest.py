"""ingest_backlog: drain a pre-staged backlog of Debezium-Avro frames.

Closed loop, one client: the benchmark calls
``CdcPipeline.run_available_now`` on a backlog that is fully present
before the call, waits for it to return, and starts the next drain on a
fresh checkpoint and fresh sinks.  The path is the reference's headline
scenario: 8 Kafka partitions of Confluent-framed Avro, decoded by
``kafka_envelope_avro(permissive=True)``, fanned out to an append sink,
a bucketed upsert sink and the lakehouse append sink, with poison
frames routed to the DLQ.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from perfbench import gen, harness, trace
from perfbench.harness import Ctx, Result, median

BACKLOG = dict(n_batches=1, events_per_batch=16_000, n_keys=20_000)
# Set-up drains the backlog itself SETUP_REPS times: the first
# full-size drains of a process run well below steady state (JIT and
# Python workers warming), and a smaller primer left the measured
# drains still speeding up from one to the next.  Two, not more, to
# keep a run near 50 s.
SETUP_REPS = 2
MIN_DRAINS = 3
SINK_IDS = ("append", "upsert", "lakehouse")


def stage(log_dir: str, dst: str) -> None:
    """Copy a log's frame files into a source dir, with modification
    times increasing in batch order, so the file source's
    ``maxFilesPerTrigger=8`` takes one batch's 8 partition files per
    micro-batch."""
    os.makedirs(dst, exist_ok=True)
    t0 = time.time_ns() - 10**12
    for i, name in enumerate(sorted(os.listdir(f"{log_dir}/frames"))):
        shutil.copyfile(f"{log_dir}/frames/{name}", f"{dst}/{name}")
        os.utime(f"{dst}/{name}", ns=(t0 + i * 10**6, t0 + i * 10**6))


class Drain:
    """One pipeline over fresh sink dirs and a fresh checkpoint."""

    def __init__(self, spark, src: str, wd: str, tracer: trace.Tracer | None = None) -> None:
        from cdc_platform_spark.plans.compiler import LakehouseAppendSink
        from cdc_platform_spark.sources.kafka import kafka_envelope_avro
        from cdc_platform_spark.streaming.pipeline import (
            AppendSink,
            BucketedUpsertSink,
            CdcPipeline,
            DlqWriter,
        )

        self.wd = wd
        self.sinks = {
            "append": AppendSink(f"{wd}/append"),
            "upsert": BucketedUpsertSink(f"{wd}/state", n_buckets=16),
            "lakehouse": LakehouseAppendSink(spark, f"{wd}/lake"),
        }
        self.dlq = DlqWriter(f"{wd}/dlq")
        self.batches_seen = -1

        def envelope(batch):
            return kafka_envelope_avro(batch, permissive=True)

        sinks, dlq, envelope_fn = dict(self.sinks), self.dlq, envelope
        if tracer is not None:
            def batch_of() -> int:
                return self.batches_seen

            sinks = {k: trace.SinkProbe(v, f"sink.{k}", tracer, spark, batch_of) for k, v in sinks.items()}
            dlq = trace.SinkProbe(dlq, "sink.dlq", tracer, spark, batch_of)

            def envelope_fn(batch):
                # called once at the top of every micro-batch: the k-th
                # call of a fresh checkpoint is batch k
                self.batches_seen += 1
                spark.sparkContext.setJobGroup("pipeline", f"batch={self.batches_seen} layer=pipeline")
                return envelope(batch)

        self.probes = list(sinks.values()) + [dlq] if tracer is not None else []
        self.pipeline = CdcPipeline(
            spark=spark,
            source_dir=src,
            checkpoint_dir=f"{wd}/ckpt",
            sinks=sinks,
            dlq=dlq,
            schema=gen.FRAME_SCHEMA,
            max_files_per_trigger=8,
            envelope_fn=envelope_fn,
        )

    def run(self) -> float:
        t0 = time.perf_counter()
        self.pipeline.run_available_now()
        return time.perf_counter() - t0

    def batch_ids(self) -> list[int]:
        return sorted(int(n) for n in os.listdir(f"{self.wd}/ckpt/commits") if n.isdigit())


def check(spark, log_dir: str, d: Drain, res: Result) -> None:
    """The drained sinks against the generator's record of every frame."""
    import duckdb

    from perfbench.check import frame_diff

    meta = json.load(open(f"{log_dir}/meta.json"))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW truth AS SELECT * FROM '{log_dir}/truth.parquet'")
    want = con.sql(
        """SELECT pk, "offset", op, event_type, value FROM truth
           WHERE NOT poison AND NOT dup
           QUALIFY row_number() OVER (PARTITION BY pk ORDER BY "offset" DESC) = 1"""
    ).df()
    want = want[want["op"] != "d"]
    got = d.sinks["upsert"].state(spark).select("pk", "offset", "op", "event_type", "value").toPandas()
    diff = frame_diff(got, want)
    if diff:
        res.mismatch(f"upsert state vs latest-per-key: {diff}")
    counts = {
        "append exactly-once rows": (d.sinks["append"].exactly_once_view(spark).count(), meta["unique_decodable"]),
        "lakehouse rows": (d.sinks["lakehouse"].table.read().count(), meta["decodable"]),
        "dlq rows": (d.dlq.read(spark).count(), meta["poison_frames"]),
    }
    for what, (n, expect) in counts.items():
        if n != expect:
            res.mismatch(f"{what}: {n} != {expect}")


def whole_batch_quarantines(spark, d: Drain) -> int:
    """Micro-batch × sink writes the pipeline quarantined whole (a raised
    sink write); poison frames are routed per row and do not count."""
    from pyspark.sql import functions as F

    dlq = d.dlq.read(spark)
    return dlq.filter(F.col("dlq_sink_id") != "decode").select("dlq_sink_id", "dlq_timestamp").distinct().count()


def run(ctx: Ctx) -> Result:
    res = Result()
    log_dir = gen.cdc_log(ctx.cache, ctx.seed, **BACKLOG)
    meta = json.load(open(f"{log_dir}/meta.json"))
    src = ctx.fresh("source")
    stage(log_dir, src)

    tracer = trace.Tracer()
    with tracer.span("session.start", "session"):
        spark, spark_start = harness.start_spark(ctx)
    start_to_warm = time.perf_counter() - ctx.t_process

    # set-up: sinks and pipeline over fresh dirs, and a warm-up drain
    builds = []
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        Drain(spark, src, ctx.fresh(f"setup{i}")).run()
        builds.append(time.perf_counter() - t0)
    setup_s = start_to_warm + median(builds)
    harness.log(f"spark start {spark_start:.2f} s, set-up builds {[round(b, 2) for b in builds]}")

    if ctx.trace:
        return traced(ctx, spark, res, tracer, log_dir, src, spark_start)

    rates = []
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or len(rates) < MIN_DRAINS:
        d = Drain(spark, src, ctx.fresh(f"drain{len(rates)}"))
        res.attempted += 1
        try:
            wall = d.run()
        except Exception as e:  # noqa: BLE001 - a raised drain is a failed operation
            res.failed += 1
            res.mismatch(f"drain raised {type(e).__name__}: {str(e)[:200]}")
            break
        res.attempted += len(d.batch_ids()) * (len(SINK_IDS) + 1)
        res.failed += whole_batch_quarantines(spark, d)
        rates.append(meta["frames"] / wall)
        harness.log(f"drain {len(rates)}: {wall:.2f} s, {rates[-1]:.0f} frames/s")
    if res.correct:
        check(spark, log_dir, d, res)
    res.e2e = {
        "setup_s": setup_s,
        "throughput_per_s": median(rates) if rates else 0.0,  # 0 only when the first drain raised
    }
    spark.stop()
    return res


def traced(ctx, spark, res, tracer, log_dir, src, spark_start) -> Result:
    from pyspark.sql import functions as F

    from cdc_platform_spark.sources.kafka import kafka_envelope_avro

    meta = json.load(open(f"{log_dir}/meta.json"))
    L = res.layers
    L["session.spark_start_s"] = spark_start

    # sources: an isolated decode of the first micro-batch's 8 files
    frames = spark.read.schema(gen.FRAME_SCHEMA).parquet(
        *[f"{src}/{n}" for n in sorted(os.listdir(src))[: gen.N_PARTITIONS]]
    )
    n_frames = frames.count()
    kafka_envelope_avro(frames, permissive=True).write.format("noop").mode("overwrite").save()
    decode = []
    for _ in range(3):
        with trace.job_group(spark, "sources"), tracer.span("sources.decode", "sources") as s:
            kafka_envelope_avro(frames, permissive=True).write.format("noop").mode("overwrite").save()
        decode.append(s.dur)
    n_poison = kafka_envelope_avro(frames, permissive=True).filter(F.col("decode_error").isNotNull()).count()
    L["sources.decode_s"] = median(decode)
    L["sources.decode_frames_per_s"] = n_frames / median(decode)
    L["sources.decode_tasks"] = trace.group_tasks(spark, "sources") // 3
    L["sources.poison_ratio"] = n_poison / n_frames

    # drain pairs, untraced and traced, the order alternating per pair,
    # for the tracing overhead; the last traced drain gives the breakdown
    listener = trace.make_listener(spark)
    plain, traced_walls = [], []
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or len(plain) < 2:
        for traced_first in ([False, True] if len(plain) % 2 == 0 else [True, False]):
            if not traced_first:
                plain.append(Drain(spark, src, ctx.fresh(f"plain{len(plain)}")).run())
                continue
            listener.reset()
            last = Drain(spark, src, ctx.fresh(f"traced{len(traced_walls)}"), tracer)
            with tracer.span("stream.call", "stream") as call:
                last.run()
            traced_walls.append(call.dur)
            ids = last.batch_ids()
            listener.wait_for(ids)
            res.attempted += 1 + len(ids) * (len(SINK_IDS) + 1)
            res.failed += whole_batch_quarantines(spark, last)
    spark.streams.removeListener(listener)
    check(spark, log_dir, last, res)

    # the last traced drain's breakdown
    kids: dict[int, list[int]] = {}
    for p in last.probes:
        for b, span_ids in p.spans.items():
            kids.setdefault(b, []).extend(span_ids)
            for sid in span_ids:
                tracer.spans[sid].parent = None
    trace.add_trigger_spans(tracer, call, listener, ids, kids)
    self_t = tracer.self_times(call)
    prog = [listener.progress[b] for b in ids]

    def per_batch_ms(key: str) -> float:
        return median([p["ms"].get(key, 0) for p in prog])

    L["stream.batches"] = len(ids)
    L["stream.rows_per_batch_p50"] = median([p["rows"] for p in prog])
    L["stream.latest_offset_ms"] = per_batch_ms("latestOffset")
    L["stream.query_planning_ms"] = per_batch_ms("queryPlanning")
    L["stream.add_batch_ms"] = per_batch_ms("addBatch")
    L["stream.wal_commit_ms"] = per_batch_ms("walCommit")
    L["stream.commit_offsets_ms"] = per_batch_ms("commitOffsets")
    L["stream.trigger_ms"] = per_batch_ms("triggerExecution")
    L["stream.start_stop_s"] = call.dur - sum(p["ms"].get("triggerExecution", 0) for p in prog) / 1e3
    L["pipeline.envelope_s"] = self_t.get("pipeline", 0.0)
    L["pipeline.rows_in"] = sum(p["rows"] for p in prog)
    L["pipeline.rows_quarantined"] = last.dlq.read(spark).count()
    for probe in last.probes:
        name = probe._layer
        L[f"{name}.write_s"] = self_t.get(name, 0.0)
        L[f"{name}.calls"] = sum(len(v) for v in probe.spans.values())
        L[f"{name}.tasks"] = trace.group_tasks(spark, name) / len(traced_walls)
    failures = (
        last.dlq.read(spark).filter(F.col("dlq_sink_id") != "decode").groupBy("dlq_sink_id").count().collect()
    )
    for sid in SINK_IDS + ("dlq",):
        L[f"sink.{sid}.failures"] = sum(r["count"] for r in failures if r["dlq_sink_id"] == sid)
    stats = last.sinks["upsert"].state_stats(spark)
    L["sink.upsert.state_rows"] = stats["rows"]
    L["sink.upsert.state_bytes"] = stats["bytes"]
    lake = last.sinks["lakehouse"]
    L["sink.lakehouse.snapshots"] = len(lake.table.snapshots())
    L["sink.lakehouse.data_files"] = sum(
        1 for _, _, fs in os.walk(f"{last.wd}/lake") for f in fs if f.endswith(".parquet")
    )
    L["loadgen.frames"] = meta["frames"]
    L["loadgen.poison_frames"] = meta["poison_frames"]
    # share of the drain's wall time the named layers account for: all
    # but the trigger time no listener phase names
    L["trace.coverage"] = sum(v for k, v in self_t.items() if k != "stream.trigger") / call.dur
    L["trace.overhead_pct"] = 100.0 * (median(traced_walls) / median(plain) - 1.0)
    L["session.jvm_rss_peak_mb"] = harness.jvm_rss_peak_mb(spark)
    eps = meta["frames"] / median(plain)
    tracer.dump(ctx.spans_path)

    # single-core reference: same backlog, same code, local[1]
    spark.stop()
    spark, _ = harness.start_spark(ctx, cores=1)
    Drain(spark, src, ctx.fresh("setup1core")).run()
    one = Drain(spark, src, ctx.fresh("onecore")).run()
    L["pipeline.speedup_vs_1core"] = eps / (meta["frames"] / one)
    spark.stop()
    return res
