"""The commit protocol every multi-store view sink shares.

A view sink (session, hourly, span, minhash/curated, join, neighbor)
keeps several hash-bucketed stores under one root — a keyed index plus
derived stores maintained by the sink's own algebra.  Each store's
commit is atomic on its own (the journaled multi-bucket commit of
``BucketedUpsertSink``); one micro-batch commits several of them in
sequence.  :class:`MultiStoreView` owns what makes that sequence safe,
so the argument below is made, and tested, once
(``tests/test_view_protocol.py``).

**Exactness under replay.**  No derived row is ever delta-updated: each
batch RECOMPUTES the derived rows of everything it touches from exact
state, and retracted rows are written back as ``dead=true`` markers (a
bucket emptied by retraction still commits; every read filters them;
``compact`` drops them).  The commit ORDER makes the recompute
replay-stable, in one of two ways:

- index LAST (session, hourly, span): every derived quantity is a
  function of the batch rows, the PRE-merge index and the untouched
  rows of the affected buckets — all untouched until the final index
  commit, so a crash after any prefix of the sequence replays to the
  identical computation;
- index FIRST (minhash, neighbor, join): the keyed merge is idempotent,
  and the derived rows are recomputed from the POST-merge index (band
  stores are supersets, currency-checked against it on every probe), so
  a replay re-derives the same state whatever prefix committed.

Structured Streaming replays an uncommitted batch, so either order gives
exactly-once state from idempotent sinks plus replay.

**The in-flight marker.**  Nothing in the per-store journals marks the
window BETWEEN two store commits; a concurrent read-only serve there
would see a state matching neither side of the batch.  A plain file
``<root>/_writer-inflight`` (store subdirs never see it) is written
before the first store commit of a ``write`` or ``compact`` and removed
after the last.  It is deliberately NOT cleared on an exception: a
failed batch leaves the stores genuinely mid-batch until the checkpoint
replays it, and the replayed ``write`` re-marks, completes and clears.
Read-only opens (``read_only=True``, the serving-process mode: recovery
never mutates, writes and compaction refuse) raise the retriable
:class:`~cdc_platform_spark.streaming.pipeline.StateInFlightError` while
it exists.  ``compact`` refuses a read-only sink BEFORE touching the
marker, so a serving process can never strand one.

Residual window: the gate runs when a read DataFrame is BUILT, but
Spark reads parquet lazily at action time.  Serving processes bracket
the collect with :meth:`MultiStoreView.state_fingerprint`
(check-read-recheck, ``serving.run_stable`` / ``cli._collect_stable``).

No broadcast hints anywhere: touched sets are micro-batch-proportional
and AQE broadcasts them at runtime when small, while a giant
``availableNow`` first wave stays a shuffle join instead of forcing a
corpus-sized broadcast.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cdc_platform_spark.streaming.pipeline import StateInFlightError, _BucketStore


class MultiStoreView:
    """Base of the multi-store view sinks: the store registry, the
    ``_writer-inflight`` marker, recovery, fingerprint, the ``write`` and
    ``compact`` templates and ``state_stats``.  See the module docstring
    for the protocol.

    A subclass opens its stores with :meth:`_open` (commit order is the
    subclass's, inside :meth:`_apply`) and names, by store name, the
    keyed store ``compact(tombstone_horizon=...)`` GCs and the derived
    stores whose dead markers ``compact`` drops."""

    _TOMBSTONE_STORE = "index"
    _DEAD_ROW_STORES: tuple[str, ...] = ()

    def __init__(self, path: str, n_buckets: int = 16, read_only: bool = False) -> None:
        self.path = path
        self.n_buckets = n_buckets
        self.read_only = read_only
        self.stores: dict = {}
        if not read_only:
            os.makedirs(path, exist_ok=True)

    def _open(self, name: str, cls=_BucketStore, **kw):
        """Open the store at ``<root>/<name>`` and register it: registered
        stores are recovered, fingerprinted and reported together."""
        store = cls(f"{self.path}/{name}", self.n_buckets, read_only=self.read_only, **kw)
        self.stores[name] = store
        return store

    # --- marker, recovery, fingerprint ------------------------------------
    @property
    def _stores_marker(self) -> str:
        return f"{self.path}/_writer-inflight"

    @staticmethod
    def _set_marker(path: str) -> None:
        with open(path, "w") as fh:
            fh.write(uuid.uuid4().hex)

    @staticmethod
    def _clear_marker(path: str) -> None:
        try:
            os.remove(path)
        except OSError:
            pass

    def _refuse_if_inflight(self, marker: str, what: str) -> None:
        if self.read_only and os.path.exists(marker):
            raise StateInFlightError(
                f"{marker}: a writer batch is mid-commit across the {what} "
                "stores (or crashed mid-batch and will replay) — retry "
                "after it completes"
            )

    def _recover(self) -> None:
        for store in self.stores.values():
            store._recover()
        self._refuse_if_inflight(self._stores_marker, "/".join(self.stores))

    def state_fingerprint(self) -> tuple:
        """Cheap filesystem fingerprint of the committed state over every
        store and the marker, for the check-read-recheck serving protocol
        (see :func:`cdc_platform_spark.streaming.serving.fs_fingerprint`)."""
        from cdc_platform_spark.streaming.serving import fs_fingerprint

        return fs_fingerprint(
            [store.path for store in self.stores.values()], [self._stores_marker]
        )

    # --- write and compact templates --------------------------------------
    @staticmethod
    @contextmanager
    def persisting():
        """Scope for cached intermediates: ``keep(df)`` persists ``df`` and
        returns it; every kept frame is unpersisted when the scope exits,
        whether the body returned or raised."""
        held: list[DataFrame] = []

        def keep(df: DataFrame) -> DataFrame:
            held.append(df.persist())
            return held[-1]

        try:
            yield keep
        finally:
            for df in held:
                df.unpersist()

    def write(self, batch: DataFrame) -> bool:
        """Apply one CDC micro-batch; returns False for the empty no-op, so
        a subclass composing extra views skips its own work without
        re-probing the batch."""
        if batch.isEmpty():
            return False
        if self.read_only:
            raise RuntimeError(
                f"{self.path}: sink opened read_only (serving mode) — "
                "writes belong to the pipeline process"
            )
        self._recover()
        # deliberately NOT cleared on exception: see the module docstring
        self._set_marker(self._stores_marker)
        with self.persisting() as keep:
            self._apply(batch, keep)
        self._clear_marker(self._stores_marker)
        return True

    def _apply(self, batch: DataFrame, keep) -> None:
        """The sink's store commits for one non-empty batch, in its commit
        order; ``keep`` is the :meth:`persisting` scope's persist."""
        raise NotImplementedError

    def compact(self, spark: SparkSession, tombstone_horizon: int | None = None) -> None:
        """Scheduled maintenance: with ``tombstone_horizon``, GC the keyed
        store's delete tombstones below the replay watermark (see
        ``BucketedUpsertSink.compact`` for the resurrection-safety
        contract), then reclaim the derived stores' dead weight.
        Correctness never needs it — every read filters dead rows; it
        reclaims storage.  Marker-bracketed like :meth:`write` and
        idempotent, so the maintenance scheduler's retry clears a crashed
        attempt.  O(state) — schedule like compaction, not per batch."""
        if self.read_only:
            raise RuntimeError(
                f"{self.path}: sink opened read_only (serving mode) — "
                "compaction belongs to the maintenance process"
            )
        self._recover()
        self._set_marker(self._stores_marker)
        if tombstone_horizon is not None:
            self.stores[self._TOMBSTONE_STORE].compact(spark, tombstone_horizon)
        self._compact_derived(spark)
        self._clear_marker(self._stores_marker)

    def _compact_derived(self, spark: SparkSession) -> None:
        for name in self._DEAD_ROW_STORES:
            self._drop_dead_rows(spark, self.stores[name])

    def _drop_dead_rows(self, spark: SparkSession, store) -> None:
        if store.exists():
            kept = spark.read.parquet(store.path).filter(~F.col("dead"))
            store.rewrite_all(kept.repartition(self.n_buckets, "bucket"))

    def state_stats(self, spark: SparkSession) -> dict:
        """Per-store maintenance metrics (tombstones, dead markers, size) —
        what the compaction scheduler and ``cdc-spark maintain`` consult."""
        return {name: store.state_stats(spark) for name, store in self.stores.items()}

    @staticmethod
    def _live_rows(spark: SparkSession, store, buckets: DataFrame) -> DataFrame:
        """A derived store's live (non-dead) rows in ``buckets`` (DPP-pruned)
        — an empty typed frame before the store's first commit."""
        if not store.exists():
            return spark.createDataFrame([], f"{store._STATE_SCHEMA}, bucket int")
        return store.read_buckets(spark, buckets).filter(~F.col("dead"))


class GroupedRecomputeView(MultiStoreView):
    """Exact per-group aggregates under event CDC, RECOMPUTED for every
    group a batch touches.  Three stores, committed log → view → index:

    - **index/** — per-event latest (event_id, offset, op, event columns),
      keyed by ``hash(event_id)``, tombstones retained: the authoritative
      current version of each event, and the record of which group it
      belonged to BEFORE the batch (an update can move an event between
      groups; both groups are recomputed).  The replay anchor.
    - **the group-event log** — the live events re-clustered by
      ``hash(group key)``, DPP-pruned to the touched groups' buckets on
      read.  EXACT: a stale row would silently shift an aggregate, which
      no cheap read-time check can detect.
    - **the view** — one row per group output, bucketed the same way, so
      a serve scans narrow maintained columns and touches no events.

    The affected set per batch is the touched groups (old ∪ new groups of
    the batch's events); groups have no cross-group coupling, so the
    recompute reads only their live events.

    A subclass configures:

    - ``_INDEX``: the per-event ``BucketedUpsertSink`` subclass; its
      ``_COLS`` are ``event_id, offset, op`` then the event columns, the
      last being the ``value`` measure.  An event is live when its op is
      not a delete and every event column but ``value`` is non-null.
    - ``_log_rows(live)``: projects live index rows onto log rows (group
      key columns — the group-key expression — then event_id, any
      columns the recompute needs, value); ``_KEY`` names the key columns.
    - ``_LOG``/``_LOG_SCHEMA`` and ``_VIEW``/``_VIEW_SCHEMA``: store names
      and typed row schemas (``dead`` included).
    - ``_recompute(log_rows)``: the group algebra, log rows → view rows;
      shared with the from-scratch form so the two cannot drift.
    """

    _INDEX: type
    _KEY: tuple[str, ...]
    _LOG: str
    _LOG_SCHEMA: str
    _VIEW: str
    _VIEW_SCHEMA: str

    def __init__(self, path: str, n_buckets: int = 16, read_only: bool = False) -> None:
        super().__init__(path, n_buckets, read_only)
        self.index = self._open("index", self._INDEX)
        setattr(self, self._LOG, self._open(self._LOG, schema=self._LOG_SCHEMA))
        setattr(self, self._VIEW, self._open(self._VIEW, schema=self._VIEW_SCHEMA))

    @staticmethod
    def _recompute(log_rows: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _log_rows(self, live: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _bucket(self):
        return F.pmod(F.hash(*self._KEY), F.lit(self.n_buckets))

    def _live(self, events: DataFrame) -> DataFrame:
        cond = F.col("op") != "d"
        for c in self.index._COLS[3:]:
            if c != "value":
                cond = cond & F.col(c).isNotNull()
        return events.filter(cond)

    def _batch_rows(self, batch: DataFrame) -> DataFrame:
        """Latest row per event within the batch (out-of-order and
        duplicate deliveries collapse here), value pinned to the exact
        DECIMAL the batch oracle sums."""
        return (
            batch.filter(F.col("op").isNotNull())
            .groupBy("event_id")
            .agg(F.max_by(F.struct(*self.index._COLS[1:]), F.col("offset")).alias("m"))
            .select("event_id", "m.*")
            .withColumn("value", F.col("value").cast("decimal(18,2)"))
        )

    def _apply(self, batch: DataFrame, keep) -> None:
        spark = batch.sparkSession
        log, view, key = self.stores[self._LOG], self.stores[self._VIEW], list(self._KEY)
        cols = self.index._COLS
        rows = keep(self._batch_rows(batch))
        touched = rows.select("event_id")  # distinct by construction
        tb = touched.select(F.pmod(F.hash("event_id"), F.lit(self.n_buckets)).alias("bucket"))

        # pre-merge index rows of the touched events (the OLD versions,
        # including the old group) — read BEFORE the index commits, which
        # is what makes every quantity below replay-stable
        old = self.index.pruned_read(spark, tb).join(touched, "event_id", "leftsemi")
        # what WILL win the index merge (an out-of-order batch may carry
        # an older version than the index already holds)
        winner = (
            rows.select(*cols)
            .unionByName(old.select(*cols))
            .groupBy("event_id")
            .agg(F.max_by(F.struct(*cols[1:]), F.col("offset")).alias("m"))
            .select("event_id", "m.*")
        )
        new_live = keep(self._log_rows(self._live(winner)))
        groups = keep(
            self._log_rows(self._live(old))
            .select(*key)
            .unionByName(new_live.select(*key))
            .distinct()
        )
        gb = groups.select(self._bucket().alias("bucket"))

        # 1. log rewrite over the touched groups' buckets: keep the
        # untouched events, mark the touched ones dead, add the winners'
        # live rows
        before = self._live_rows(spark, log, gb)
        log_content = (
            before.join(touched, "event_id", "leftanti")
            .unionByName(
                before.join(touched, "event_id", "leftsemi").withColumn("dead", F.lit(True))
            )
            .unionByName(
                new_live.withColumn("dead", F.lit(False)).withColumn("bucket", self._bucket())
            )
        )
        log.write_buckets(log_content.repartition(self.n_buckets, "bucket"))

        # 2. RECOMPUTE each touched group from the post-rewrite exact log
        # (re-read: a delete-only first batch may have committed nothing)
        after = self._live_rows(spark, log, gb).join(groups, key, "leftsemi")
        recomputed = keep(self._recompute(after.select(*new_live.columns)))

        # 3. view rewrite over the touched groups' buckets: keep the other
        # groups' rows, replace the touched groups' (dead markers for
        # groups that left the view)
        fields = [f for f in StructType.fromDDL(self._VIEW_SCHEMA).fields if f.name != "dead"]
        gone = groups.join(recomputed.select(*key), key, "leftanti").select(
            *[
                F.col(f.name) if f.name in key else F.lit(None).cast(f.dataType).alias(f.name)
                for f in fields
            ],
            F.lit(True).alias("dead"),
        )
        view_content = (
            recomputed.select(*[F.col(f.name).cast(f.dataType) for f in fields])
            .withColumn("dead", F.lit(False))
            .unionByName(gone)
            .withColumn("bucket", self._bucket())
            .unionByName(
                self._live_rows(spark, view, gb).join(groups, key, "leftanti")
            )
        )
        view.write_buckets(view_content.repartition(self.n_buckets, "bucket"))

        # 4. the per-event index commits LAST — the replay anchor
        self.index.write(rows)

    def _compact_derived(self, spark: SparkSession) -> None:
        for name in (self._LOG, self._VIEW):
            self._drop_dead_rows(spark, self.stores[name])

    def _from_scratch(self, spark: SparkSession) -> DataFrame:
        """The FLAT form: the recompute over every live event of the
        per-event index (O(state)).  The maintained view must equal it
        after every batch — the flat-vs-bucketed equivalence anchor."""
        self._recover()
        return self._recompute(self._log_rows(self._live(self.index.state(spark))))
