"""Incrementally maintained HOURLY (event_type, hour) aggregates under
event CDC with full retraction — the update/delete-capable form of the
windowed-aggregate family (VERDICT r13 next-round #2).

``sq_gapfill_locf_stream`` / ``sq_tumbling_hourly_stream`` maintain their
hourly series by ADDITIVE partial-aggregate merge (BucketedAggregatingSink):
exactly right for append-only streams, but an update or delete wave cannot
retract from the sums.  Real CDC carries both: an update can MOVE an event
across hours (time shift) or across event types (reclassification), and a
delete must remove its contribution.  This sink is a
:class:`~cdc_platform_spark.streaming.views.GroupedRecomputeView` over the
(event_type, hour) group key — count/sum per touched hour are cheap to
recompute exactly, so no aggregate is ever delta-updated.

Semantics maintained (must equal the from-scratch batch computation over
the live post-CDC events — asserted by the ``sq_gapfill_locf_cdc_stream``
driver oracle and the equivalence tests):

    per (event_type, hour_s) with >= 1 live event:
        n_events  = COUNT(*)
        value_sum = SUM(DECIMAL(18,2) value)
    hour_s = floor(t_us / 3600e6) * 3600 — the batch w_gapfill_locf /
    sq_gapfill_locf_stream hour bucket (epoch seconds).

Storage layout — the group key is ``(event_type, hour_bucket(t_us))``:

- **index/** — per-event latest (event_id, offset, op, event_type, t_us,
  value) keyed by ``hash(event_id)``: the record of each event's group
  BEFORE the batch.
- **group_events/** — the live events re-clustered by
  ``hash(event_type, hour_s)``: the per-group event log a recompute reads.
- **hourly/** — the serve view: one (event_type, hour_s, n_events,
  value_sum) row per live group, bucketed the same way.  The dense-grid
  + LOCF projection stays a READ-TIME tail over this store
  (``gapfill_locf_grid``), bounded by grid size.

The recompute is a plain count/sum over the touched groups' live events,
one partial-aggregated shuffle of a batch-adjacent frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_platform_spark.streaming.pipeline import BucketedUpsertSink
from cdc_platform_spark.streaming.views import GroupedRecomputeView

#: microseconds per hour — the w_gapfill_locf bucket width
HOUR_US = 3_600_000_000

_SERVE_SCHEMA = "event_type string, hour_s long, n long, v double"

_GROUP = ["event_type", "hour_s"]


def hour_bucket(t_us):
    """Exact integer hour bucket (epoch seconds) from the µs clock —
    floor division, THE bucket rule shared with w_gapfill_locf's ns form
    ``(ts_ns div 3600e9) * 3600``."""
    return (F.floor(t_us / F.lit(HOUR_US)) * F.lit(3600)).cast("long")


def hourly_aggregate(live_events: DataFrame) -> DataFrame:
    """THE hourly aggregate algebra over (event_type, hour_s, value) rows
    — shared by the incremental recompute and the from-scratch
    equivalence view so the two definitions cannot drift.  One
    partial-aggregated shuffle on the group key."""
    return live_events.groupBy(*_GROUP).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("value_sum"),
    )


class _HourlyEventIndexSink(BucketedUpsertSink):
    """Per-event latest: keyed merge with delete tombstones — the
    authoritative current event record (including its pre-batch group)
    each batch's retraction derives from."""

    _COLS = ["event_id", "offset", "op", "event_type", "t_us", "value"]
    _KEY = "event_id"
    _STATE_SCHEMA = (
        "event_id long, offset long, op string, event_type string, t_us long, "
        "value decimal(18,2)"
    )


class BucketedHourlyStatsSink(GroupedRecomputeView):
    """Maintains exact per-(event_type, hour) aggregates under event CDC.

    ``write`` per micro-batch (foreachBatch), ``hourly_stats`` as the
    serve view, ``hourly_from_scratch`` as the flat full-recompute form
    (the equivalence anchor), ``compact`` as the scheduled maintenance
    pass, ``state_fingerprint`` for the check-read-recheck serving
    protocol.
    """

    _INDEX = _HourlyEventIndexSink
    _KEY = tuple(_GROUP)
    _LOG = "group_events"
    _LOG_SCHEMA = (
        "event_type string, hour_s long, event_id long, value decimal(18,2), "
        "dead boolean"
    )
    _VIEW = "hourly"
    _VIEW_SCHEMA = (
        "event_type string, hour_s long, n_events long, value_sum decimal(28,2), "
        "dead boolean"
    )
    _recompute = staticmethod(hourly_aggregate)

    def _log_rows(self, live: DataFrame) -> DataFrame:
        return live.select(
            "event_type", hour_bucket(F.col("t_us")).alias("hour_s"), "event_id", "value"
        )

    @staticmethod
    def _serve(df: DataFrame) -> DataFrame:
        return df.select(
            "event_type",
            "hour_s",
            F.col("n_events").alias("n"),
            F.col("value_sum").cast("double").alias("v"),
        )

    def hourly_stats(self, spark: SparkSession) -> DataFrame:
        """The serve view: exact aggregates per live (event_type, hour) —
        four narrow maintained columns; no events touched.  v is DOUBLE,
        matching the batch w_gapfill_locf hourly shape, so the shared
        gapfill_locf_grid tail applies directly."""
        self._recover()
        if not self.hourly.exists():
            return spark.createDataFrame([], _SERVE_SCHEMA)
        return self._serve(spark.read.parquet(self.hourly.path).filter(~F.col("dead")))

    def hourly_from_scratch(self, spark: SparkSession) -> DataFrame:
        """The flat full recompute from the per-event index — the serve
        view must equal it after every batch."""
        return self._serve(self._from_scratch(spark))
