"""The commit protocol every MultiStoreView sink shares (streaming/views.py),
pinned once for all of them: every store commit of ``write`` and
``compact`` happens while the ``_writer-inflight`` marker exists, and the
marker is gone afterwards; a crash between two store commits leaves it,
read-only opens refuse with StateInFlightError until the replayed batch
clears it; ``compact`` on a read-only sink refuses before the marker
exists; ``state_fingerprint`` flips with the marker.
"""

from __future__ import annotations

import importlib
import os

import pytest

from cdc_platform_spark.operators.dedup import EMB_DIM
from cdc_platform_spark.streaming.pipeline import StateInFlightError

MIN = 60 * 1_000_000
_EVENT = "event_id long, offset long, op string, {}, t_us long, value double"
_DOC = "doc_id long, offset long, op string, text string"
_A = "the quick brown fox jumps over the lazy dog near the river bank today"
_B = "the quick brown fox jumps over the lazy dog near the river bank again"
_C = "an entirely different document about spark streaming state stores here"


def _vec(seed: int) -> list[int]:
    return [((seed * 7 + d * 13) % 11) - 5 for d in range(EMB_DIM)]


# name -> (module, class, batch schema, wave 1, wave 2, serve read)
SINKS = {
    "session": (
        "session_index",
        "BucketedSessionStatsSink",
        _EVENT.format("user_id long"),
        [(1, 1, "c", 7, 0, 1.0), (2, 2, "c", 7, 20 * MIN, 2.0), (3, 3, "c", 8, 0, 4.0)],
        [(2, 10, "d", None, None, None), (3, 11, "u", 7, 40 * MIN, 4.0)],
        lambda s, spark: s.session_stats(spark),
    ),
    "hourly": (
        "hourly_index",
        "BucketedHourlyStatsSink",
        _EVENT.format("event_type string"),
        [(1, 1, "c", "view", 0, 1.0), (2, 2, "c", "view", 20 * MIN, 2.0),
         (3, 3, "c", "click", 0, 4.0)],
        [(2, 10, "d", None, None, None), (3, 11, "u", "view", 90 * MIN, 4.0)],
        lambda s, spark: s.hourly_stats(spark),
    ),
    "span": (
        "span_index",
        "BucketedSpanIndexSink",
        _DOC,
        [(1, 1, "c", _A), (2, 2, "c", _B), (3, 3, "c", _C)],
        [(2, 10, "u", _C), (3, 11, "d", None)],
        lambda s, spark: s.span_stats(spark),
    ),
    "minhash": (
        "dedup_index",
        "BucketedMinHashIndexSink",
        _DOC,
        [(1, 1, "c", _A), (2, 2, "c", _B), (3, 3, "c", _C)],
        [(2, 10, "u", _C), (3, 11, "d", None)],
        lambda s, spark: s.pairs(spark),
    ),
    "curated": (
        "dedup_index",
        "CuratedCorpusSink",
        _DOC,
        [(1, 1, "c", _A), (2, 2, "c", _B), (3, 3, "c", _C)],
        [(2, 10, "u", _C), (3, 11, "d", None)],
        lambda s, spark: s.curated(spark),
    ),
    "join": (
        "join_view",
        "BucketedJoinViewSink",
        "seq long, offset long, pk long, op string, event_type string, value double",
        [(1, 1, 7, "c", "view", 1.0), (2, 2, 8, "c", "view", 2.0), (3, 3, 7, "u", "click", 3.0)],
        [(4, 10, 8, "d", "view", None), (5, 11, 7, "u", "view", 5.0)],
        lambda s, spark: s.view(spark),
    ),
    "neighbor": (
        "neighbor_index",
        "CosineNeighborIndexSink",
        "vec_id long, offset long, op string, a array<long>",
        [(1, 1, "c", _vec(1)), (2, 2, "c", _vec(1)), (3, 3, "c", _vec(2))],
        [(2, 10, "u", _vec(3)), (3, 11, "d", None)],
        lambda s, spark: s.view(spark),
    ),
}


def _open(name, root, **kw):
    module, cls, *_ = SINKS[name]
    mod = importlib.import_module(f"cdc_platform_spark.streaming.{module}")
    return getattr(mod, cls)(root, n_buckets=4, **kw)


def _watch_commits(sink, crash_at=None):
    """Record, for every store commit, whether the marker existed; with
    ``crash_at`` the n-th commit (1-based) raises instead."""
    seen: list[bool] = []
    for store in sink.stores.values():
        real = store._commit_buckets

        def commit(*a, _real=real, **k):
            seen.append(os.path.exists(sink._stores_marker))
            if crash_at is not None and len(seen) == crash_at:
                raise RuntimeError("injected crash")
            return _real(*a, **k)

        store._commit_buckets = commit
    return seen


def _unwatch(sink):
    for store in sink.stores.values():
        del store._commit_buckets


@pytest.mark.parametrize("name", sorted(SINKS))
def test_multi_store_commit_protocol(spark, tmp_path, name):
    _, _, schema, wave1, wave2, serve = SINKS[name]
    root = str(tmp_path / name)
    sink = _open(name, root)
    marker = sink._stores_marker

    # write: every store commit inside the marker, marker cleared after
    seen = _watch_commits(sink)
    assert sink.write(spark.createDataFrame(wave1, schema)) is True
    assert seen and all(seen), seen
    assert not os.path.exists(marker)
    _unwatch(sink)

    # read-only: compact and write refuse before touching the marker,
    # and the fingerprint flips with the marker
    ro = _open(name, root, read_only=True)
    with pytest.raises(RuntimeError, match="read_only"):
        ro.compact(spark, tombstone_horizon=10**12)
    with pytest.raises(RuntimeError, match="read_only"):
        ro.write(spark.createDataFrame(wave2, schema))
    assert not os.path.exists(marker)
    fp0 = ro.state_fingerprint()
    sink._set_marker(marker)
    assert ro.state_fingerprint() != fp0
    sink._clear_marker(marker)
    assert ro.state_fingerprint() == fp0

    # a crash between two store commits strands the marker: read-only
    # opens refuse until the replayed batch completes and clears it
    seen = _watch_commits(sink, crash_at=2)
    with pytest.raises(RuntimeError, match="injected crash"):
        sink.write(spark.createDataFrame(wave2, schema))
    assert seen == [True, True]
    _unwatch(sink)
    assert os.path.exists(marker)
    with pytest.raises(StateInFlightError):
        serve(ro, spark)
    assert sink.write(spark.createDataFrame(wave2, schema)) is True
    assert not os.path.exists(marker)
    serve(ro, spark).collect()

    # compact: marker-bracketed like write, cleared after
    seen = _watch_commits(sink)
    sink.compact(spark, tombstone_horizon=10**12)
    assert seen and all(seen), seen
    assert not os.path.exists(marker)
    _unwatch(sink)
