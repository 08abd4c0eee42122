"""The metric names and units every run reports, and the result line."""

from __future__ import annotations

import json

from perfbench.queries import HEADLINE

E2E_METRICS = {"setup_s": "s", "throughput_per_s": "1/s"}

# Every per-layer metric, in BENCHMARK.json order.  A traced run reports
# all of them; a layer its workload does not reach reads 0.
_SINK = [f"sink.{s}.{m}" for s in ("append", "upsert", "lakehouse", "dlq") for m in ("write_s", "calls", "failures", "tasks")]
LAYER_METRICS = [
    "session.spark_start_s", "session.jvm_rss_peak_mb",
    "sources.decode_s", "sources.decode_frames_per_s", "sources.decode_tasks", "sources.poison_ratio",
    "stream.batches", "stream.rows_per_batch_p50", "stream.latest_offset_ms", "stream.query_planning_ms",
    "stream.add_batch_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms", "stream.trigger_ms",
    "stream.start_stop_s",
    "pipeline.envelope_s", "pipeline.rows_in", "pipeline.rows_quarantined", "pipeline.speedup_vs_1core",
    *_SINK,
    "sink.upsert.state_rows", "sink.upsert.state_bytes", "sink.lakehouse.snapshots", "sink.lakehouse.data_files",
    "index.load_s", "index.view_update_p50_s",
    *[f"index.{s}.{m}" for s in ("ivf_flat", "ivf_pq") for m in ("write_s", "tasks", "state_rows", "state_bytes")],
    "index.compact_s",
    *[f"serve.{r}.p50_s" for r in ("ivf_search", "ivf_pq_search", "ivf_drift", "cluster_sample", "pq_recon")],
    "serve.torn_retries", "serve.fingerprint_ms",
    *[f"query.{q}.s" for q in HEADLINE],
    "query.build_s", "query.exec_s", "query.tasks",
    "loadgen.frames", "loadgen.poison_frames",
    "trace.coverage", "trace.overhead_pct",
]


def unit_of(name: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), (".s", "s"), ("_mb", "MiB"), ("_pct", "%"), ("_bytes", "bytes")):
        if name.endswith(suffix):
            return unit
    if name.endswith(("ratio", "retries", "coverage")):
        return "ratio"
    return "x" if "speedup" in name else "count"


def emit(res, trace: bool) -> None:
    """Print the result line: the per-layer metrics when traced (0 for a
    layer the workload does not reach), else the end-to-end ones."""
    if trace:
        unknown = set(res.layers) - set(LAYER_METRICS)
        assert not unknown, f"undeclared per-layer metrics {sorted(unknown)}"
        metrics = {k: (float(res.layers.get(k, 0.0)), unit_of(k)) for k in LAYER_METRICS}
    else:
        assert list(res.e2e) == list(E2E_METRICS), f"end-to-end metrics {list(res.e2e)}"
        metrics = {k: (float(v), E2E_METRICS[k]) for k, v in res.e2e.items()}
    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
