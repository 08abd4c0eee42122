"""Concurrent sink fan-out of ``CdcPipeline._process_batch``.

Each micro-batch's sink writes (and the poison-row quarantine) run on
their own threads — the reference's ``asyncio.gather`` over sinks
(pipeline/runner.py:210-250).  Pinned here:

- the writes really overlap (a barrier only two concurrent writers pass),
- per-sink isolation: a failing sink is quarantined under its own
  ``dlq_sink_id`` while the others commit; DLQ appends never overlap and
  land in sink declaration order,
- a failed poison quarantine fails the batch, and the replay converges,
- sink threads run their Spark jobs under the caller's job group,
- readiness reflects the last write outcome of every sink,
- sinks (and the DLQ) may not share or nest output directories.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.request

import pytest
from pydantic import ValidationError
from pyspark.sql import functions as F

from cdc_platform_spark.config.models import PipelineConfig, SinkConfig, SourceConfig
from cdc_platform_spark.observability import HealthServer, health
from cdc_platform_spark.plans.compiler import LakehouseAppendSink
from cdc_platform_spark.streaming.pipeline import (
    AppendSink,
    CdcPipeline,
    DlqWriter,
    TopicRouterSink,
    UpsertSink,
    to_envelope,
)

N_EVENTS = 40


def _events(spark):
    return spark.range(N_EVENTS).selectExpr(
        "id AS event_id",
        "timestamp_micros(id * 1000000) AS ts",
        "id % 6 AS user_id",
        "CASE WHEN id % 7 = 0 THEN 'error' ELSE 'click' END AS event_type",
        "CAST(id AS DOUBLE) AS value",
        "'{}' AS props",
    )


def _with_poison(batch):
    """Envelope whose decoder marked every tenth frame undecodable."""
    return to_envelope(batch).withColumn(
        "decode_error", F.when(F.col("seq") % 10 == 3, F.lit("bad frame"))
    )


N_POISON = 4  # seq 3, 13, 23, 33


class _Probe:
    """A sink double: runs ``before`` (e.g. a barrier wait or a raise),
    then counts the batch, recording the Spark job group it ran under."""

    def __init__(self, path, before=None) -> None:
        self.path = str(path)
        self.before = before
        self.rows = None
        self.job_group = None
        self.thread = None

    def write(self, batch) -> None:
        self.thread = threading.get_ident()
        if self.before is not None:
            self.before()
        self.job_group = batch.sparkSession.sparkContext.getLocalProperty("spark.jobGroup.id")
        self.rows = batch.count()


def _fail(msg: str, delay: float = 0.0):
    def before() -> None:
        time.sleep(delay)
        raise RuntimeError(msg)

    return before


class _RecordingDlq(DlqWriter):
    """Records the order of DLQ appends and the largest overlap seen."""

    def __init__(self, path: str) -> None:
        super().__init__(path)
        self.calls: list[str] = []
        self.max_active = 0
        self._active = 0
        self._lock = threading.Lock()

    def write(self, batch, sink_id, error) -> None:
        with self._lock:
            self._active += 1
            self.max_active = max(self.max_active, self._active)
        try:
            super().write(batch, sink_id, error)
            self.calls.append(sink_id)
        finally:
            with self._lock:
                self._active -= 1


def _pipe(spark, tmp_path, sinks, dlq=None, **kw) -> CdcPipeline:
    return CdcPipeline(
        spark=spark,
        source_dir=str(tmp_path / "source"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        sinks=sinks,
        dlq=dlq,
        **kw,
    )


def test_sink_writes_overlap(spark, tmp_path):
    """Each sink waits at a two-party barrier: it only opens when both
    writes are in flight at once, so a serial loop times out there."""
    barrier = threading.Barrier(2, timeout=60)
    sinks = {k: _Probe(tmp_path / k, before=barrier.wait) for k in ("a", "b")}
    pipe = _pipe(spark, tmp_path, sinks)  # no DLQ: a broken barrier raises
    pipe._process_batch(_events(spark), 0)
    assert [s.rows for s in sinks.values()] == [N_EVENTS, N_EVENTS]
    assert len({sinks["a"].thread, sinks["b"].thread, threading.get_ident()}) == 3
    assert all(st["ok"] for st in pipe.sink_status.values())


def test_failing_sinks_quarantined_in_declaration_order(spark, tmp_path):
    """The first-declared failing sink fails LAST; its DLQ rows still land
    first, each failed sink's batch under its own dlq_sink_id, and no two
    DLQ appends (the poison quarantine included) overlap."""
    good = _Probe(tmp_path / "good")
    sinks = {
        "slow_bad": _Probe(tmp_path / "slow_bad", before=_fail("slow sink down", delay=1.5)),
        "good": good,
        "fast_bad": _Probe(tmp_path / "fast_bad", before=_fail("fast sink down")),
    }
    dlq = _RecordingDlq(str(tmp_path / "dlq"))
    pipe = _pipe(spark, tmp_path, sinks, dlq=dlq, envelope_fn=_with_poison)
    pipe._process_batch(_events(spark), 7)

    assert good.rows == N_EVENTS - N_POISON  # the healthy sink committed
    assert [c for c in dlq.calls if c != "decode"] == ["slow_bad", "fast_bad"]
    assert sorted(dlq.calls) == ["decode", "fast_bad", "slow_bad"]
    assert dlq.max_active == 1
    counts = {r["dlq_sink_id"]: r["count"] for r in dlq.read(spark).groupBy("dlq_sink_id").count().collect()}
    assert counts == {"decode": N_POISON, "slow_bad": N_EVENTS - N_POISON, "fast_bad": N_EVENTS - N_POISON}
    # the quarantined rows carry the failing sink's own traceback
    trace = dlq.read(spark).filter(F.col("dlq_sink_id") == "slow_bad").first()
    assert "slow sink down" in trace["dlq_error_stacktrace"]
    assert pipe.sink_status["slow_bad"] == {
        "batch_id": 7, "ok": False, "error": "RuntimeError: slow sink down",
    }
    assert pipe.sink_status["good"] == {"batch_id": 7, "ok": True, "error": None}


def test_without_dlq_first_failure_in_declaration_order_raises(spark, tmp_path):
    sinks = {
        "slow_bad": _Probe(tmp_path / "slow_bad", before=_fail("first declared", delay=1.0)),
        "fast_bad": _Probe(tmp_path / "fast_bad", before=_fail("second declared")),
        "good": _Probe(tmp_path / "good"),
    }
    pipe = _pipe(spark, tmp_path, sinks)
    with pytest.raises(RuntimeError, match="first declared"):
        pipe._process_batch(_events(spark), 0)
    assert sinks["good"].rows == N_EVENTS
    assert not pipe.sink_status["fast_bad"]["ok"]


class _FlakyDlq(DlqWriter):
    """The first poison quarantine fails (e.g. the DLQ volume is briefly
    unavailable); later ones succeed."""

    fail_next_decode = True

    def write(self, batch, sink_id, error) -> None:
        if sink_id == "decode" and self.fail_next_decode:
            self.fail_next_decode = False
            raise OSError("quarantine volume unavailable")
        super().write(batch, sink_id, error)


def test_poison_quarantine_failure_fails_batch_and_replay_converges(spark, tmp_path):
    def build(root, dlq_cls):
        sinks = {"append": AppendSink(f"{root}/append"), "upsert": UpsertSink(f"{root}/state")}
        assert all(s.is_idempotent for s in sinks.values())
        dlq = dlq_cls(f"{root}/dlq")
        return _pipe(spark, tmp_path, sinks, dlq=dlq, envelope_fn=_with_poison), sinks, dlq

    pipe, sinks, dlq = build(tmp_path / "flaky", _FlakyDlq)
    with pytest.raises(OSError, match="quarantine volume unavailable"):
        pipe._process_batch(_events(spark), 0)
    pipe._process_batch(_events(spark), 0)  # the stream's replay of batch 0

    ref, ref_sinks, _ = build(tmp_path / "ref", DlqWriter)  # the same batch, no fault
    ref._process_batch(_events(spark), 0)

    assert dlq.read(spark).count() == N_POISON
    got = sinks["append"].exactly_once_view(spark).drop("event_ts").toPandas()
    want = ref_sinks["append"].exactly_once_view(spark).drop("event_ts").toPandas()
    assert len(got) == N_EVENTS - N_POISON
    assert got.sort_values("seq").reset_index(drop=True).equals(want.sort_values("seq").reset_index(drop=True))
    up = sinks["upsert"].state(spark).toPandas().sort_values("pk").reset_index(drop=True)
    up_ref = ref_sinks["upsert"].state(spark).toPandas().sort_values("pk").reset_index(drop=True)
    assert up.equals(up_ref)


def test_sink_threads_inherit_callers_job_group(spark, tmp_path):
    sc = spark.sparkContext
    sinks = {k: _Probe(tmp_path / k) for k in ("a", "b")}
    pipe = _pipe(spark, tmp_path, sinks)
    prev = (sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("spark.job.description"))
    before = set(sc.statusTracker().getJobIdsForGroup("fanout-test"))
    sc.setJobGroup("fanout-test", "batch=0 layer=pipeline")
    try:
        pipe._process_batch(_events(spark), 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev[0])
        sc.setLocalProperty("spark.job.description", prev[1])
    assert [s.job_group for s in sinks.values()] == ["fanout-test", "fanout-test"]
    # the sinks' count() jobs (plus the envelope materialization) are
    # attributed to the group in the status tracker too
    new = set(sc.statusTracker().getJobIdsForGroup("fanout-test")) - before
    assert len(new) >= 3


class _Switch:
    def __init__(self, path) -> None:
        self.path = str(path)
        self.fail = True

    def write(self, batch) -> None:
        if self.fail:
            raise RuntimeError("downstream rejected the batch")
        batch.count()


def test_readyz_flips_on_quarantined_sink_and_recovers(spark, tmp_path):
    flaky = _Switch(tmp_path / "flaky")
    pipe = _pipe(
        spark, tmp_path, {"good": _Probe(tmp_path / "good"), "flaky": flaky},
        dlq=DlqWriter(str(tmp_path / "dlq")),
    )
    srv = HealthServer(lambda: health([], pipe.sinks, sink_status=pipe.sink_status))
    port = srv.start()

    def readyz():
        try:
            with urllib.request.urlopen(f"http://127.0.0.1:{port}/readyz") as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    try:
        assert readyz()[0] == 200  # no batch yet: nothing has failed
        pipe._process_batch(_events(spark), 0)
        code, body = readyz()
        assert code == 503
        assert body["components"] == {"sink:good": "ok", "sink:flaky": "error"}
        flaky.fail = False
        pipe._process_batch(_events(spark), 1)
        code, body = readyz()
        assert code == 200 and body["components"]["sink:flaky"] == "ok"
    finally:
        srv.stop()


def test_overlapping_sink_paths_are_refused(spark, tmp_path):
    x = str(tmp_path / "x")
    refused = [
        {"a": AppendSink(x), "b": UpsertSink(x)},  # equal
        {"a": AppendSink(f"{x}/inner"), "b": UpsertSink(x)},  # nested
        {"a": LakehouseAppendSink(spark, x), "b": AppendSink(f"{x}/data")},  # table root
        {"r": TopicRouterSink({"t": AppendSink(x)}), "b": AppendSink(f"{x}/sub")},  # routed
    ]
    for sinks in refused:
        with pytest.raises(ValueError, match="overlap"):
            _pipe(spark, tmp_path, sinks)
    with pytest.raises(ValueError, match="overlap"):  # DLQ inside a sink root
        _pipe(spark, tmp_path, {"a": AppendSink(x)}, dlq=DlqWriter(f"{x}/dlq"))
    # a shared name prefix is not nesting
    _pipe(spark, tmp_path, {"a": AppendSink(x), "b": AppendSink(f"{x}2")}, dlq=DlqWriter(f"{x}_dlq"))

    src = SourceConfig(path="/in")
    for sinks, dlq_path in (
        ([SinkConfig(id="a", type="append", path="/o/a"), SinkConfig(id="b", type="upsert", path="/o/a")], None),
        ([SinkConfig(id="a", type="append", path="/o/a"), SinkConfig(id="b", type="upsert", path="/o/a/b")], None),
        ([SinkConfig(id="a", type="append", path="/o/a")], "/o/a/dlq"),
    ):
        with pytest.raises(ValidationError, match="equal or nested"):
            PipelineConfig(pipeline_id="p", source=src, sinks=sinks, dlq_path=dlq_path)
    # a disabled sink never writes, so it cannot clash
    PipelineConfig(
        pipeline_id="p", source=src, dlq_path="/o/dlq",
        sinks=[SinkConfig(id="a", type="append", path="/o/a"),
               SinkConfig(id="b", type="upsert", path="/o/a", enabled=False)],
    )
