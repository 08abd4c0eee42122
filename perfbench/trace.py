"""Spans taken from outside the program, and the layer breakdown.

Three sources feed one in-memory span list:

- ``Tracer.span``: a timed call into a layer, made by the benchmark
  (a drain, a serving read, an isolated decode);
- ``ProgressListener``: Structured Streaming's per-trigger
  ``durationMs`` breakdown, turned into one ``stream.trigger`` span per
  micro-batch with a child span per phase;
- ``SinkProbe``: a wrapper around a sink (or the DLQ writer) the
  benchmark passes to the pipeline.  It times ``write`` and forwards
  every other attribute, so ``wants_batch_id``, ``compact`` and the
  ``compact`` signature the pipeline inspects all read as the wrapped
  object's own.

Each span has a name, a layer, start and end (``time.perf_counter``
seconds; listener spans are laid out inside the drain call, see
``add_trigger_spans``), a parent and a micro-batch id.  A layer's self
time is a span's duration minus its children's durations, summed over
the layer's spans.  Spans stay in memory until ``dump`` writes them.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None = None
    batch: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stack = threading.local()

    def add(self, name, layer, start, end, parent=None, batch=None) -> Span:
        with self._lock:
            s = Span(len(self.spans), name, layer, start, end, parent, batch)
            self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, layer: str, batch: int | None = None):
        """Time the block; its parent is the innermost open span of this thread."""
        stack = self._stack.__dict__.setdefault("ids", [])
        s = self.add(name, layer, time.perf_counter(), 0.0, stack[-1] if stack else None, batch)
        stack.append(s.id)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()

    def children(self, parent: int) -> list[Span]:
        return [s for s in self.spans if s.parent == parent]

    def self_times(self, root: Span) -> dict[str, float]:
        """Self time per layer over ``root``'s subtree."""
        out: dict[str, float] = {}

        def walk(s: Span) -> None:
            kids = self.children(s.id)
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, s.dur - sum(k.dur for k in kids))
            for k in kids:
                walk(k)

        walk(root)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


# Structured Streaming reports these phases inside triggerExecution; the
# span order below is the order a trigger runs them in.
PHASES = [
    ("latestOffset", "stream.latest_offset"),
    ("walCommit", "stream.wal_commit"),
    ("getBatch", "stream.get_batch"),
    ("queryPlanning", "stream.query_planning"),
    ("addBatch", "pipeline.add_batch"),
    ("commitOffsets", "stream.commit_offsets"),
]


def make_listener(spark):
    """A StreamingQueryListener that keeps each progress event's batch id,
    input rows and ``durationMs`` map.  Events arrive on the listener bus
    after the trigger ends; ``wait_for`` blocks until a batch's event has
    arrived."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: dict[int, dict] = {}
            self._cv = threading.Condition()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            with self._cv:
                self.progress[p.batchId] = {
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                }
                self._cv.notify_all()

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def reset(self) -> None:
            with self._cv:
                self.progress = {}

        def wait_for(self, batch_ids, timeout: float = 30.0) -> None:
            deadline = time.monotonic() + timeout
            with self._cv:
                while not all(b in self.progress for b in batch_ids):
                    left = deadline - time.monotonic()
                    if left <= 0:
                        raise TimeoutError(f"no progress event for batches {batch_ids}")
                    self._cv.wait(left)

    listener = ProgressListener()
    spark.streams.addListener(listener)
    return listener


def add_trigger_spans(tracer: Tracer, call: Span, listener, batch_ids, add_batch_kids) -> None:
    """Lay the listener's per-trigger phases out as spans under ``call``.

    A trigger's own self time (``stream.trigger`` layer) is the part of
    ``triggerExecution`` no named phase covers.

    The listener reports durations, not start times, so each trigger is
    placed after the previous one inside the call and its phases run back
    to back in ``PHASES`` order; only durations enter the self times.
    ``add_batch_kids[b]`` are the ids of spans the sink probes recorded
    inside batch ``b``'s foreachBatch call; they are re-parented under
    that batch's ``pipeline.add_batch`` span."""
    t = call.start
    for b in batch_ids:
        ms = listener.progress[b]["ms"]
        trig = tracer.add(
            "stream.trigger", "stream.trigger", t, t + ms.get("triggerExecution", 0) / 1e3, call.id, b
        )
        p = t
        for key, name in PHASES:
            d = ms.get(key, 0) / 1e3
            s = tracer.add(name, name.split(".")[0], p, p + d, trig.id, b)
            if key == "addBatch":
                for kid in add_batch_kids.get(b, []):
                    tracer.spans[kid].parent = s.id
            p += d
        t = trig.end


class SinkProbe:
    """Times one sink's ``write`` as a span and tags its Spark jobs with
    the job group ``layer``; everything else is the wrapped sink's own.

    ``batch_of()`` returns the micro-batch id being processed (the
    pipeline passes it only to sinks that ask for it)."""

    def __init__(self, inner, layer: str, tracer: Tracer, spark, batch_of) -> None:
        self._inner, self._layer, self._tracer = inner, layer, tracer
        self._spark, self._batch_of = spark, batch_of
        self.spans: dict[int, list[int]] = {}  # batch id -> span ids

    def __getattr__(self, name):
        # only reached for attributes the probe itself does not have
        return getattr(self._inner, name)

    def write(self, *args, **kwargs):
        b = kwargs.get("batch_id", self._batch_of())
        with job_group(self._spark, self._layer, b):
            with self._tracer.span(f"{self._layer}.write", self._layer, batch=b) as s:
                self.spans.setdefault(b, []).append(s.id)
                return self._inner.write(*args, **kwargs)


@contextmanager
def job_group(spark, layer: str, batch=None):
    """Run the block's Spark jobs under job group ``layer`` (restoring the
    caller's group after), so task counts can be read per layer."""
    sc = spark.sparkContext
    prev = (sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("spark.job.description"))
    sc.setJobGroup(layer, f"batch={batch} layer={layer}")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev[0])
        sc.setLocalProperty("spark.job.description", prev[1])


def group_tasks(spark, group: str) -> int:
    """Tasks launched by the jobs of one job group (retained jobs only)."""
    st = spark.sparkContext.statusTracker()
    n = 0
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else []:
            stage = st.getStageInfo(sid)
            n += stage.numTasks if stage else 0
    return n
