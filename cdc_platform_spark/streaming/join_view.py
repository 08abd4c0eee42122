"""Incremental materialized JOIN view under CDC updates.

The missing piece between the row views (``UpsertSink``), aggregate
views (``AggregatingSink``) and index views (ann/dedup indexes): a
JOIN kept materialized and consistent while BOTH sides change — the
standard CDC enrichment shape (facts joined with the latest version of
a dimension), which naive pipelines recompute from scratch or, worse,
freeze at event time and silently serve stale dimensions.

``EnrichedJoinViewSink`` maintains three tables from one envelope
stream (each event is BOTH a fact and a dimension update for its key —
the classic "profile + activity" interpretation):

- **facts/** — append log keyed by ``seq`` (idempotent under replay:
  latest-per-seq merge, so at-least-once redelivery cannot duplicate),
- **dim/**   — latest (pk -> value) with delete tombstones
  (``UpsertSink`` semantics),
- **view/**  — the materialized INNER JOIN ``facts ⋈ dim`` on pk.

Batch algebra per micro-batch (delta-join maintenance, the
ΔA⋈B ∪ A⋈ΔB shape specialised to a keyed dimension):
  1. facts' = latest-per-seq(facts ∪ batch),
  2. dim'   = latest-per-pk(dim ∪ batch)  (tombstones retained),
  3. touched = pks present in the batch — the ONLY keys whose view rows
     can change,
  4. view'  = view ▷ touched  ∪  (facts' ⋉ touched) ⋈ (live dim' ⋉ touched)
     — retraction + re-derive for touched keys only; a dimension update
     re-enriches every fact of its key, a dimension delete drops them
     (inner-join semantics), untouched keys' rows are never recomputed.
  5. three two-rename swaps; a crash between them is healed by the
     batch replay (facts/dim merges are idempotent, the view update is
     a deterministic function of facts' + dim' + the batch's keys).

Scale shape: steps 1-2 are the flat-sink forms (the Bucketed* layout is
the drop-in upgrade for all three dirs — bucket by pk, and the
retraction anti-join + re-derive join become per-bucket copy-on-write
like every other view here); the touched-key restriction is a broadcast
semi-join, executor-side.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_platform_spark.streaming.pipeline import (
    BucketedUpsertSink,
    _commit_swap,
    _recover_swapped_dir,
)
from cdc_platform_spark.streaming.views import MultiStoreView

_VIEW_COLS = ["seq", "pk", "event_type", "fact_value", "dim_value"]
_VIEW_SCHEMA = "seq long, pk long, event_type string, fact_value double, dim_value double"


class EnrichedJoinViewSink:
    """Materialized facts-⋈-latest-dim view over an envelope CDC stream."""

    def __init__(self, path: str) -> None:
        self.facts_path = f"{path}/facts"
        self.dim_path = f"{path}/dim"
        self.view_path = f"{path}/view"
        os.makedirs(path, exist_ok=True)

    def _recover(self) -> None:
        for p in (self.facts_path, self.dim_path, self.view_path):
            _recover_swapped_dir(p)

    def write(self, batch: DataFrame) -> None:
        # isEmpty, not take(1): on the pipeline's persisted batch it scans
        # an empty projection of the cached rows — the cheapest guard job
        if batch.isEmpty():
            return  # empty/poisoned micro-batch: all three tables unchanged
        self._recover()
        spark = batch.sparkSession
        run_id = uuid.uuid4().hex

        rows = batch.select("seq", "offset", "pk", "op", "event_type", "value")

        # 1. facts: latest per seq (idempotent replay dedup)
        facts = rows
        if os.path.isdir(self.facts_path):
            facts = spark.read.parquet(self.facts_path).unionByName(facts)
        facts = (
            facts.groupBy("seq")
            .agg(
                F.max_by(
                    F.struct("offset", "pk", "op", "event_type", "value"),
                    F.col("offset"),
                ).alias("m")
            )
            .select("seq", "m.offset", "m.pk", "m.op", "m.event_type", "m.value")
        )
        tmp_facts = f"{self.facts_path}.tmp-{run_id}"
        facts.write.mode("overwrite").parquet(tmp_facts)

        # 2. dim: latest per pk by offset, tombstones retained
        dim = rows.select("pk", "offset", "op", "value")
        if os.path.isdir(self.dim_path):
            dim = spark.read.parquet(self.dim_path).unionByName(dim)
        dim = (
            dim.groupBy("pk")
            .agg(F.max_by(F.struct("offset", "op", "value"), F.col("offset")).alias("m"))
            .select("pk", "m.offset", "m.op", "m.value")
        )
        tmp_dim = f"{self.dim_path}.tmp-{run_id}"
        dim.write.mode("overwrite").parquet(tmp_dim)

        # 3-4. view: retract + re-derive for the batch's keys only,
        # computed from the just-written state so the join sees one
        # consistent snapshot
        touched = rows.select("pk").distinct()
        f_state = spark.read.parquet(tmp_facts).join(touched, "pk", "leftsemi")
        d_live = (
            spark.read.parquet(tmp_dim)
            .filter(F.col("op") != "d")
            .join(touched, "pk", "leftsemi")
            .select("pk", F.col("value").alias("dim_value"))
        )
        fresh = f_state.join(d_live, "pk").select(
            "seq", "pk", "event_type", F.col("value").alias("fact_value"), "dim_value"
        )
        if os.path.isdir(self.view_path):
            surviving = (
                spark.read.parquet(self.view_path)
                .join(touched, "pk", "leftanti")
                .select(*_VIEW_COLS)
            )
        else:
            surviving = spark.createDataFrame(
                [], "seq long, pk long, event_type string, fact_value double, dim_value double"
            )
        tmp_view = f"{self.view_path}.tmp-{run_id}"
        # fresh rows all carry touched pks, surviving rows none: disjoint
        # union, no dedup exchange needed
        surviving.unionByName(fresh).write.mode("overwrite").parquet(tmp_view)

        # 5. commit (replay heals a crash between the swaps)
        _commit_swap(self.facts_path, tmp_facts)
        _commit_swap(self.dim_path, tmp_dim)
        _commit_swap(self.view_path, tmp_view)

    def view(self, spark: SparkSession) -> DataFrame:
        """The live enriched view."""
        self._recover()
        return spark.read.parquet(self.view_path).select(*_VIEW_COLS)


class _FactsSink(BucketedUpsertSink):
    """The fact log in the bucketed layout: keyed by ``seq`` (idempotent
    replay dedup) but BUCKETED by ``hash(pk)`` — co-located with the
    dimension key so the view re-derive for a batch's keys prunes to their
    buckets.  All rows of one seq share its pk, so the per-bucket
    latest-per-seq merge stays bucket-local."""

    _KEY = "seq"
    _COLS = ["seq", "offset", "pk", "op", "event_type", "value"]
    _STATE_SCHEMA = "seq long, offset long, pk long, op string, event_type string, value double"

    def _updates(self, batch: DataFrame) -> DataFrame:
        # every envelope row is a fact (op is the dimension's concern, and
        # the flat sink/oracle enrich facts regardless of op) — bucket by
        # pk, NOT the merge key
        return batch.select(*self._COLS).withColumn(
            "bucket", F.pmod(F.hash("pk"), F.lit(self.n_buckets))
        )


class _DimSink(BucketedUpsertSink):
    """The dimension in the standard bucketed-upsert layout: latest per pk
    by offset, tombstones retained, bucketed by ``hash(pk)``."""

    _KEY = "pk"
    _COLS = ["pk", "offset", "op", "value"]
    _STATE_SCHEMA = "pk long, offset long, op string, value double"


class BucketedJoinViewSink(MultiStoreView):
    """The 100 TB form of :class:`EnrichedJoinViewSink`: facts/, dim/ and
    view/ are all hash-bucketed by ``pk`` with per-bucket copy-on-write —
    a micro-batch reads and rewrites ONLY the buckets its keys hash into,
    in all three tables, through the journaled atomic multi-bucket commit
    (exactly the upgrade the flat sink's docstring plans).

    Batch algebra is unchanged (delta-join maintenance: retract +
    re-derive for the batch's keys only); what changes is that every step
    is bucket-pruned:
      1. facts' and dim' merge through ``BucketedUpsertSink`` (DPP-pruned
         state scan, one bucket-keyed exchange each),
      2. the re-derive reads facts' and dim' restricted to the TOUCHED
         pk buckets (DPP prune) then semi-joined to the touched keys,
      3. the view rewrite touches only the touched pk buckets: surviving
         rows keep their bucket, retracted rows are written back with
         ``dead=true``.

    The three commits follow the
    :class:`~cdc_platform_spark.streaming.views.MultiStoreView` protocol
    (keyed merges first, the view re-derived from their post-merge
    state).  ``compact`` GCs the DIM store's tombstones only: the FACTS
    store's op='d' rows are real event records — delete events are facts
    that join the live dim in the view — not key-deletion tombstones."""

    _TOMBSTONE_STORE = "dim"
    _DEAD_ROW_STORES = ("view",)

    def __init__(self, path: str, n_buckets: int = 16, read_only: bool = False) -> None:
        super().__init__(path, n_buckets, read_only)
        self.facts = self._open("facts", _FactsSink)
        self.dim = self._open("dim", _DimSink)
        self.view_store = self._open("view", schema=f"{_VIEW_SCHEMA}, dead boolean")

    def _apply(self, batch: DataFrame, keep) -> None:
        spark = batch.sparkSession
        nb = F.lit(self.n_buckets)
        rows = keep(batch.select("seq", "offset", "pk", "op", "event_type", "value"))
        # 1-2. keyed merges, per-bucket copy-on-write
        self.facts.write(rows)
        self.dim.write(rows)

        # 3-4. view: retract + re-derive for the batch's keys only,
        # reading facts'/dim' pruned to the touched pk buckets
        touched = rows.select("pk").distinct()
        tb = touched.select(F.pmod(F.hash("pk"), nb).alias("bucket"))
        f_state = self.facts.pruned_read(spark, tb).join(F.broadcast(touched), "pk", "leftsemi")
        d_live = (
            self.dim.pruned_read(spark, tb)
            .join(F.broadcast(touched), "pk", "leftsemi")
            .filter(F.col("op") != "d")
            .select("pk", F.col("value").alias("dim_value"))
        )
        fresh = (
            f_state.join(d_live, "pk")
            .select("seq", "pk", "event_type", F.col("value").alias("fact_value"), "dim_value")
            .withColumn("bucket", F.pmod(F.hash("pk"), nb))
            .withColumn("dead", F.lit(False))
        )
        content = fresh
        if self.view_store.exists():
            tkey = F.broadcast(touched.withColumn("_t", F.lit(True)))
            existing = (
                self.view_store.read_buckets(spark, tb)
                .filter(~F.col("dead"))
                .join(tkey, "pk", "left")
                # retracted rows stay as dead markers so an
                # all-retracted bucket still commits its rewrite
                .withColumn("dead", F.col("_t").isNotNull())
                .select(*_VIEW_COLS, "dead", "bucket")
            )
            content = existing.unionByName(fresh)
        self.view_store.write_buckets(content.repartition(self.n_buckets, "bucket"))

    def view(self, spark: SparkSession) -> DataFrame:
        """The live enriched view."""
        self._recover()
        if not self.view_store.exists():
            return spark.createDataFrame([], _VIEW_SCHEMA)
        return (
            spark.read.parquet(self.view_store.path)
            .filter(~F.col("dead"))
            .select(*_VIEW_COLS)
        )
