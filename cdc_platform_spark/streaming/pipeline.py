"""Structured Streaming CDC pipeline: envelope -> multi-sink fan-out -> DLQ.

The Spark-first re-expression of the reference platform's runner
(reference pipeline/runner.py):

| Reference (asyncio)                            | Here (Structured Streaming)        |
|------------------------------------------------|------------------------------------|
| per-partition bounded queues + workers (128-162)| Spark tasks per source partition   |
| `_dispatch_to_sinks` asyncio.gather (210-250)  | foreachBatch: persist + N writes   |
| per-sink failure -> DLQ producer (222-248)     | per-sink try/except -> DLQ table   |
| min-watermark offset commit (355-383)          | Spark checkpoint/commit log        |
| backpressure via queue bound (128-138)         | maxFilesPerTrigger / trigger pacing|
| Iceberg upsert `table.upsert` (sinks/iceberg.py:187-197) | keyed MERGE in foreachBatch |

Exactly-once: Spark's checkpoint gives at-least-once foreachBatch
delivery; sinks are idempotent (upsert = keyed merge; append = keyed
dedup view), the same at-least-once + idempotency contract the
reference documents (README.md:411-419).

The upsert sink here merges into a keyed parquet state table (read +
union + latest-per-key + atomic swap). On a lakehouse deployment the
identical batch logic is one `MERGE INTO` on Iceberg/Delta — the
in-batch dedup-by-latest then merge is exactly what this class does;
parquet-swap is the container-friendly stand-in for the table format's
transactional commit.
"""

from __future__ import annotations

import inspect
import json
import logging
import os
import shutil
import time
import traceback
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from cdc_platform_spark.functions import materialize
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
)

from cdc_platform_spark.streaming.topics import cdc_topic

log = logging.getLogger(__name__)

CDC_TOPIC = cdc_topic("cdc", "public.users", source_type="postgres")


def to_envelope(df: DataFrame, topic: str = CDC_TOPIC, n_partitions: int = 8) -> DataFrame:
    """events -> CDC envelope (same mapping as operators/cdc.py, stream-safe)."""
    ts = F.col("ts")
    if dict(df.dtypes).get("ts") == "bigint":
        # floor semantics for pre-epoch nanos (div truncates toward zero)
        ts = F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
    else:
        # TIMESTAMP_NTZ parquet reads: normalize to TIMESTAMP (session tz is
        # UTC, so the cast is instant-preserving); watermarks require it.
        ts = ts.cast("timestamp")
    return df.select(
        F.col("event_id").alias("seq"),
        F.lit(topic).alias("topic"),
        F.pmod(F.col("user_id"), F.lit(n_partitions)).cast("long").alias("partition"),
        F.col("event_id").alias("offset"),
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
        .alias("op"),
        F.col("user_id").alias("pk"),
        F.col("event_type"),
        F.col("value"),
        F.col("props"),
        ts.alias("event_ts"),
    )


class StateInFlightError(RuntimeError):
    """A READ-ONLY recovery found evidence of an in-flight or interrupted
    commit (a pending journal, or a displaced ``.old-*`` snapshot whose
    live dir is missing).  A read-only process must not resolve it — the
    rollback/restore renames belong to the writer, and a serving process
    performing them can destroy the writer's in-flight tmp or race its
    two-rename swap (its micro-batch would fail and replay).  Retriable:
    the window is one commit; retry after the writer's next recovery or
    commit completes."""


def _sweep_stale_tmp(path: str) -> None:
    """Remove crash-orphaned ``.tmp-*`` siblings of a swapped state dir: a
    crash during the tmp write (or between the renames) strands a full
    state copy that no recovery path ever matches — a crash-looping
    pipeline would fill the volume with them."""
    parent = os.path.dirname(path) or "."
    base = os.path.basename(path)
    if not os.path.isdir(parent):
        return
    for name in os.listdir(parent):
        if name.startswith(f"{base}.tmp-"):
            shutil.rmtree(f"{parent}/{name}", ignore_errors=True)


def _recover_swapped_dir(path: str, read_only: bool = False) -> None:
    """Crash recovery for the two-rename swap protocol (shared by
    UpsertSink and AggregatingSink): sweep stale tmp dirs, and if the live
    dir is missing but a displaced ``.old-*`` snapshot exists (crash
    between the renames), restore the newest one.  Restoring an older
    state is safe under both sinks' merge semantics: the mid-swap batch
    replays and re-merges (idempotent keyed merge / absent-from-meta
    batch-id fence).

    ``read_only=True`` (the serving-process form) performs NO filesystem
    mutation: tmp dirs are left for the writer (they may be its in-flight
    batch, not crash orphans), and a missing live dir with a displaced
    snapshot raises :class:`StateInFlightError` instead of racing the
    writer's second rename with a restore."""
    if read_only:
        if os.path.isdir(path):
            return
        parent = os.path.dirname(path) or "."
        base = os.path.basename(path)
        if os.path.isdir(parent) and any(
            name.startswith(f"{base}.old-") for name in os.listdir(parent)
        ):
            raise StateInFlightError(
                f"{path}: live dir missing, displaced snapshot present — "
                "mid-swap; retry after the writer recovers"
            )
        return
    _sweep_stale_tmp(path)
    if os.path.isdir(path):
        return
    parent = os.path.dirname(path) or "."
    base = os.path.basename(path)
    if not os.path.isdir(parent):
        return
    candidates = sorted(
        (f"{parent}/{name}" for name in os.listdir(parent) if name.startswith(f"{base}.old-")),
        key=os.path.getmtime,
    )
    if candidates:
        os.rename(candidates[-1], path)


def _commit_swap(path: str, tmp: str) -> None:
    """Swap a fully-written tmp dir into place: displace the live dir,
    rename tmp over it, drop the displaced copy."""
    old = f"{path}.old-{uuid.uuid4().hex}"
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def pruned_bucket_read(
    spark: SparkSession, path: str, buckets: DataFrame, schema=None
) -> DataFrame:
    """Read a ``bucket=<i>`` partitioned state dir restricted to the given
    buckets: broadcast LEFT SEMI join on the partition column, whose build
    side carries the DPP-triggering selective filter (``bucket >= 0`` is
    semantically a no-op — pmod is non-negative — but marks the build side
    selective, which Spark's dynamic-partition-pruning insertion heuristic
    requires).  THE pruning recipe, shared by every bucketed sink and
    derived view so it cannot drift; untouched buckets are never read.
    A known ``schema`` (DDL, ``bucket`` included) spares the scan its
    schema-inference job."""
    pruned = buckets.select("bucket").distinct().filter(F.col("bucket") >= 0)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path).join(F.broadcast(pruned), "bucket", "leftsemi")


def spark_hash_bucket(spark: SparkSession, value, dtype: str, n_buckets: int) -> int:
    """``pmod(hash(value), n_buckets)`` with Spark's exact hash semantics
    — computed by a one-row local projection (bounded scalar job), so a
    point serve can prune to one bucket without reimplementing Murmur3
    driver-side.  ``dtype`` must match the stored key column's type
    exactly: Spark hashes int and bigint differently."""
    row = spark.createDataFrame([(value,)], f"k {dtype}")
    return row.select(F.pmod(F.hash("k"), F.lit(n_buckets)).alias("b")).head()["b"]


def checkpoint_has_pending_batch(checkpoint_dir: str) -> bool:
    """True when a stream checkpoint shows an in-flight micro-batch that
    will be REPLAYED on restart: Structured Streaming writes
    ``offsets/<id>`` before running batch <id> and ``commits/<id>`` only
    after every foreachBatch side effect returned, so
    ``max(offsets) > max(commits)`` is exactly the crash-mid-batch window
    in which some sinks hold the batch and others do not."""

    def _max_batch(sub: str) -> int:
        d = os.path.join(checkpoint_dir, sub)
        if not os.path.isdir(d):
            return -1
        ids = [int(name) for name in os.listdir(d) if name.isdigit()]
        return max(ids, default=-1)

    return _max_batch("offsets") > _max_batch("commits")


def suggest_tombstone_horizon(
    applied: DataFrame,
    n_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> int | None:
    """The A1/A2 min-watermark math applied to tombstone GC: for an
    ORDERED source (per-partition monotonic offsets — Kafka, Kinesis, a
    CDC slot), once partition p has durably applied everything up to
    ``max_p``, its future deliveries are all ``> max_p`` — so
    ``min over partitions of max applied offset + 1`` is a replay
    low-watermark valid across the whole stream, derived from applied
    state instead of asserted by an operator.

    ``applied`` is any durably-applied frame carrying (partition, offset)
    — the append sink's table is the natural source.  NULL-safety mirrors
    q28's commit math: a partition that has applied NOTHING has no
    watermark, so pass ``n_partitions`` (the source's partition count)
    and the suggestion abstains (None) until every partition has flushed
    — otherwise an idle partition's pending backlog could sit below the
    fence.  A partition whose max applied offset is NULL (e.g. a
    decode-poisoned row that reached the applied table with no offset)
    likewise makes the suggestion abstain rather than raise.  The
    aggregate is one row per partition — bounded metadata.

    ``checkpoint_dir`` closes the crash-mid-batch window: the append
    sink's table can run AHEAD of the stream checkpoint (AppendSink.write
    committed, checkpoint commit not yet written), and a horizon derived
    from it would count the pending batch's offsets as applied — on
    restart the batch replays and every keyed sink's ``offset >= horizon``
    fence would silently drop it.  When the checkpoint shows an in-flight
    batch (``checkpoint_has_pending_batch``), abstain; restart the stream
    and drain it first.  When no checkpoint dir is supplied the caller
    asserts the pipeline is drained (do NOT run this on a crashed,
    un-replayed pipeline)."""
    if checkpoint_dir is not None and checkpoint_has_pending_batch(checkpoint_dir):
        log.warning(
            "suggest_tombstone_horizon: checkpoint %s has an in-flight "
            "micro-batch (offsets ahead of commits); abstaining — restart "
            "the stream and drain before deriving a GC horizon",
            checkpoint_dir,
        )
        return None
    rows = applied.groupBy("partition").agg(F.max("offset").alias("mx")).collect()
    if not rows or (n_partitions is not None and len(rows) < n_partitions):
        return None
    if any(r["mx"] is None for r in rows):
        return None
    return int(min(r["mx"] for r in rows)) + 1


def latest_per_key_merge(updates, current=None):
    """THE latest-per-key upsert algebra — one definition shared by
    UpsertSink and the lakehouse upsert sink (plans/compiler.py), so the
    tie-break (offset desc per pk) and tombstone handling cannot drift:
    keep the newest row per pk across current state + updates.

    Null-op rows (undecodable frames that slipped past DLQ routing) are
    excluded from the UPDATES: a poison frame at the highest offset must
    not displace valid state — it would win the merge and then vanish
    from the served view (op <> 'd' is NULL), erasing the key."""
    updates = updates.filter(F.col("op").isNotNull())
    w = Window.partitionBy("pk").orderBy(F.col("offset").desc())
    merged = updates if current is None else current.unionByName(updates)
    return merged.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


class AppendSink:
    """Append materialization with _cdc_* metadata (ref K3 append,
    sinks/iceberg.py:124-133). Idempotent read via `exactly_once_view`."""

    is_idempotent = True  # duplicates are folded by exactly_once_view

    def __init__(self, path: str, fail_predicate: str | None = None) -> None:
        self.path = path
        self.fail_predicate = fail_predicate  # test hook: simulate a poison sink

    def write(self, batch: DataFrame) -> None:
        if self.fail_predicate is not None:
            n_bad = batch.filter(self.fail_predicate).limit(1).count()
            if n_bad:
                raise RuntimeError(f"sink rejected batch: predicate {self.fail_predicate!r} matched")
        out = batch.select(
            "seq",
            "pk",
            "op",
            "event_type",
            "value",
            "event_ts",
            F.col("topic").alias("_cdc_topic"),
            F.col("partition").alias("_cdc_partition"),
            F.col("offset").alias("_cdc_offset"),
        )
        out.write.mode("append").parquet(self.path)

    def exactly_once_view(self, spark: SparkSession) -> DataFrame:
        """At-least-once delivery + keyed dedup = exactly-once read (ref J4).

        The dedup key includes the topic: with TopicRouterSink multi-topic
        streams two topics can legitimately share (partition, offset)
        coordinates — deduping without the topic silently dropped one of
        them (same 3-coordinate key RelationalAppendSink uses)."""
        return (
            spark.read.parquet(self.path).dropDuplicates(
                ["_cdc_topic", "_cdc_partition", "_cdc_offset"]
            )
        )


class RelationalAppendSink:
    """The reference's Postgres sink table shape, exactly (FIXTURES.md §3a;
    ref sinks/postgres.py:101-107,136-146): 5 columns
    (event_key, event_value, source_topic, source_partition, source_offset),
    key/value as JSON text, unique on the source coordinates. The
    exactly-once read is the dedup view on that unique key — the ON CONFLICT
    analogue."""

    def __init__(self, path: str) -> None:
        self.path = path

    def write(self, batch: DataFrame) -> None:
        out = batch.select(
            F.to_json(F.struct(F.col("pk").alias("id"))).alias("event_key"),
            F.to_json(F.struct("seq", "op", "event_type", "value", "props")).alias("event_value"),
            F.col("topic").alias("source_topic"),
            F.col("partition").cast("int").alias("source_partition"),
            F.col("offset").alias("source_offset"),
        )
        out.write.mode("append").parquet(self.path)

    def exactly_once_view(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path).dropDuplicates(
            ["source_topic", "source_partition", "source_offset"]
        )


class UpsertSink:
    """Latest-per-key merge materialization (ref J1/W2, sinks/iceberg.py:187-197).

    Batch algebra (identical to a lakehouse MERGE INTO with a
    `source.offset > target.offset` match condition):
      1. in-batch dedup-by-latest on (pk) ordered by offset — the reference's
         per-partition arrival order made explicit,
      2. union with current state, keep latest per pk,
      3. KEEP delete tombstones in the state (micro-batches from a file
         source are not offset-ordered across files; dropping a tombstone
         would let an older out-of-order update resurrect a deleted key),
      4. transactional swap (here: write tmp + atomic dir rename).
    ``state()`` exposes the live (non-tombstone) view.
    """

    is_idempotent = True  # keyed merge: replaying a batch cannot double-apply

    def __init__(self, path: str) -> None:
        self.path = path

    def _recover(self) -> None:
        _recover_swapped_dir(self.path)

    def write(self, batch: DataFrame) -> None:
        if not batch.take(1):
            return  # empty micro-batch: nothing to merge
        self._recover()
        spark = batch.sparkSession
        cols = ["pk", "offset", "op", "event_type", "value"]
        # in-batch dedup-by-latest first (shrinks the union), then merge
        # with state — both steps are the one shared merge algebra
        updates = latest_per_key_merge(batch.select(*cols))
        current = (
            spark.read.parquet(self.path).select(*cols) if os.path.isdir(self.path) else None
        )
        merged = latest_per_key_merge(updates, current)
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex}"
        merged.write.mode("overwrite").parquet(tmp)
        _commit_swap(self.path, tmp)

    def state(self, spark: SparkSession) -> DataFrame:
        """Live state: latest row per key, tombstones filtered out."""
        self._recover()
        return spark.read.parquet(self.path).filter(F.col("op") != "d")


class BucketedUpsertSink:
    """Latest-per-key merge with hash-bucketed state: the scale form of
    ``UpsertSink``.

    ``UpsertSink`` rewrites the WHOLE state every micro-batch — O(state)
    I/O per batch, which is fine for tests and fatal at 100 TB.  Here the
    state is laid out as ``path/bucket=<pmod(hash(pk), n)>/`` and a batch
    rewrites ONLY the buckets its keys hash into: O(touched buckets), the
    same copy-on-write granularity an Iceberg ``MERGE INTO`` achieves with
    bucket-partitioned tables (ref J1/W2, sinks/iceberg.py:187-197; the
    reference's per-partition compaction L3, lakehouse/maintenance.py:178-244,
    is the same only-touch-what-changed principle).

    Merge semantics are identical to ``UpsertSink`` (latest per pk by
    offset, tombstones retained against out-of-order micro-batches); only
    the storage granularity differs.  The bucket function is Spark's
    stable murmur3 ``hash()`` — consistent for the lifetime of one state
    directory, which is all a checkpointed pipeline needs.
    """

    is_idempotent = True  # keyed merge: replaying a batch cannot double-apply
    _COLS = ["pk", "offset", "op", "event_type", "value"]
    _KEY = "pk"  # merge key; subclasses may re-key (e.g. vec_id indexes)
    # typed shape of the state rows — the empty-state fallback for readers
    # (a full-GC compact can legitimately leave ZERO bucket dirs, and a
    # bare parquet read of that dir raises UNABLE_TO_INFER_SCHEMA; found
    # by the hypothesis GC property on a delete-only event log)
    _STATE_SCHEMA = "pk long, offset long, op string, event_type string, value double"

    def __init__(self, path: str, n_buckets: int = 16, read_only: bool = False) -> None:
        self.path = path
        self.n_buckets = n_buckets
        # read_only: serving-process mode — _recover() never mutates (no
        # journal resolution, no sweeps, no snapshot restores; it raises
        # StateInFlightError on evidence of a mid-commit state instead),
        # and the write paths refuse outright
        self.read_only = read_only

    def _bucket_dir(self, i: int) -> str:
        return f"{self.path}/bucket={i}"

    def _assert_writable(self) -> None:
        if self.read_only:
            raise RuntimeError(
                f"{self.path}: store opened read_only (serving mode) — "
                "writes belong to the pipeline process"
            )

    @property
    def _work(self) -> str:
        return f"{self.path}.work"

    def state_fingerprint(self) -> tuple:
        """Cheap filesystem fingerprint of the committed state, for the
        check-read-recheck serving protocol
        (:func:`cdc_platform_spark.streaming.serving.run_stable`).  The
        state dir's first-level mtimes catch bucket swaps; the ``.work``
        dir catches a mid-commit journal or displaced snapshot, so any
        overlapping multi-bucket commit flips the fingerprint."""
        from cdc_platform_spark.streaming.serving import fs_fingerprint

        return fs_fingerprint([self.path, self._work])

    def _recover(self) -> bool:
        """Per-bucket crash recovery. Displaced snapshots live in a sibling
        ``.work`` dir (NOT inside the state dir, where partition discovery
        would try to parse them as bucket values).

        Journaled commits (``_commit_buckets``) are resolved FIRST: an
        interrupted commit is rolled back (its tmp dir still exists) or its
        leftover cleanup is completed (tmp gone => the commit point passed)
        — only then are legacy orphaned snapshots/tmp dirs swept, so the
        sweep can never destroy a mid-commit tmp the rollback needs.

        Returns True iff recovery may have CHANGED live bucket contents
        (a journal was resolved or a displaced snapshot restored) — the
        aggregate subclass invalidates its in-memory fence cache on that
        signal instead of re-reading every ``_agg_meta`` per batch.

        In ``read_only`` mode nothing is resolved, swept, or restored:
        a pending journal or a displaced snapshot whose live bucket is
        missing means the state is mid-commit and a read could see some
        buckets new and some old — raise :class:`StateInFlightError`
        (retriable) instead.  A displaced snapshot whose live bucket
        EXISTS is completed-swap garbage: consistent, safe to read."""
        if self.read_only:
            if os.path.isdir(self._work):
                for name in os.listdir(self._work):
                    if name.startswith("commit-") and name.endswith(".json"):
                        # replicate _resolve_journal's distinction WITHOUT
                        # resolving: tmp still present = commit point not
                        # reached, live buckets may hold a mix of old and
                        # new -> refuse; tmp gone = the commit point passed
                        # and only cleanup is pending, every live bucket is
                        # the committed version -> consistent, readable
                        # (writer-crash-between-rmtree-and-journal-removal
                        # must not brick serving forever).  Unreadable
                        # journal: conservative refuse.
                        try:
                            with open(f"{self._work}/{name}") as fh:
                                j = json.load(fh)
                            mid_commit = os.path.isdir(j["tmp"])
                        except (OSError, ValueError, KeyError):
                            mid_commit = True
                        if mid_commit:
                            raise StateInFlightError(
                                f"{self.path}: pending commit journal {name} — "
                                "mid-commit; retry after the writer recovers"
                            )
                        continue
                    if ".old-" in name and not os.path.isdir(
                        f"{self.path}/{name.split('.old-')[0]}"
                    ):
                        raise StateInFlightError(
                            f"{self.path}: displaced snapshot {name} with no "
                            "live bucket — mid-swap; retry after the writer "
                            "recovers"
                        )
            return False
        changed = False
        if os.path.isdir(self._work):
            for name in sorted(os.listdir(self._work)):
                if name.startswith("commit-") and name.endswith(".json"):
                    self._resolve_journal(f"{self._work}/{name}")
                    changed = True
        # crash-orphaned .tmp-<run_id> bucket trees leak a batch-sized copy
        # per crash; the batch replays, so they are always garbage
        _sweep_stale_tmp(self.path)
        if not os.path.isdir(self._work):
            return changed
        # newest first: if several snapshots of one bucket ever coexist, the
        # most recent wins and the rest are treated as completed-swap garbage
        names = sorted(
            (n for n in os.listdir(self._work) if ".old-" in n),
            key=lambda n: os.path.getmtime(f"{self._work}/{n}"),
            reverse=True,
        )
        for name in names:
            live = f"{self.path}/{name.split('.old-')[0]}"
            if os.path.isdir(live):
                # swap completed, cleanup didn't: the snapshot is garbage
                shutil.rmtree(f"{self._work}/{name}", ignore_errors=True)
            else:
                os.makedirs(self.path, exist_ok=True)
                os.rename(f"{self._work}/{name}", live)
                changed = True
        return changed

    # --- atomic multi-bucket commit -------------------------------------
    # write() must be all-or-nothing across its touched buckets: a failure
    # midway through the rename loop would otherwise leave SOME buckets
    # with the batch applied, and a later at-least-once redelivery (DLQ
    # replay carries no batch id) would fold those buckets twice.  The
    # commit is journaled: roll BACK on any pre-commit-point failure (the
    # failed write leaves state untouched, so the redelivered batch
    # applies exactly once), roll the cleanup forward after it.

    def _journal_path(self, run_id: str) -> str:
        return f"{self._work}/commit-{run_id}.json"

    def _resolve_journal(self, journal: str) -> None:
        try:
            with open(journal) as fh:
                j = json.load(fh)
        except (OSError, ValueError):
            os.remove(journal)
            return
        tmp, run_id, buckets = j["tmp"], j["run_id"], j["buckets"]
        if os.path.isdir(tmp):  # commit point not reached: roll back
            for i in buckets:
                live = self._bucket_dir(i)
                old = f"{self._work}/bucket={i}.old-{run_id}"
                if os.path.isdir(old):
                    if os.path.isdir(live):  # live is the new version
                        shutil.rmtree(live, ignore_errors=True)
                    os.rename(old, live)
                elif os.path.isdir(live) and not os.path.isdir(f"{tmp}/bucket={i}"):
                    # bucket had no predecessor and its new version landed
                    shutil.rmtree(live, ignore_errors=True)
            shutil.rmtree(tmp, ignore_errors=True)
        else:  # commit point passed: finish the cleanup
            for i in buckets:
                shutil.rmtree(
                    f"{self._work}/bucket={i}.old-{run_id}", ignore_errors=True
                )
        os.remove(journal)

    def _commit_buckets(self, tmp: str, run_id: str, touched: list[int]) -> None:
        """Publish every touched bucket from ``tmp`` atomically (journaled
        two-phase rename; removing ``tmp`` is the commit point)."""
        if not touched:
            shutil.rmtree(tmp, ignore_errors=True)
            return
        os.makedirs(self.path, exist_ok=True)
        os.makedirs(self._work, exist_ok=True)
        journal = self._journal_path(run_id)
        with open(journal, "w") as fh:
            json.dump({"tmp": tmp, "run_id": run_id, "buckets": touched}, fh)
        try:
            olds = []
            for i in touched:
                live = self._bucket_dir(i)
                if os.path.isdir(live):
                    old = f"{self._work}/bucket={i}.old-{run_id}"
                    os.rename(live, old)
                    olds.append(old)
            for i in touched:
                # a touched bucket absent from tmp means its new content is
                # EMPTY (compaction/rewrite_all): displacing the live dir
                # without a replacement deletes the bucket at commit
                if os.path.isdir(f"{tmp}/bucket={i}"):
                    os.rename(f"{tmp}/bucket={i}", self._bucket_dir(i))
        except BaseException:
            self._resolve_journal(journal)  # tmp still exists -> rollback
            raise
        shutil.rmtree(tmp, ignore_errors=True)  # commit point
        for old in olds:
            shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(journal):
            os.remove(journal)

    def write(self, batch: DataFrame) -> None:
        """One fully executor-side merge job per micro-batch.

        The r04 shape ran TWO jobs plus a per-batch driver round-trip
        (window the batch, persist, ``distinct().collect()`` the touched
        buckets, then merge).  Here the touched-bucket set never visits
        the driver before the merge:

        1. the live state scan is restricted to touched buckets by a
           broadcast LEFT SEMI join against the batch's distinct bucket
           ids — dynamic partition pruning turns that into a partition
           filter on the bucket= directory scan, so untouched state is
           never read (the ``bucket >= 0`` filter is semantically a no-op
           — pmod is non-negative — but marks the build side selective,
           which Spark's DPP insertion heuristic requires; the plan test
           asserts the pruning subquery is present),
        2. latest-per-pk runs in the SAME single shuffle that clusters
           the output: exchange on bucket, sort (pk, offset desc) within,
           keep each pk's first row via lag — so the partitioned write
           emits exactly one file per touched bucket instead of the
           (tasks x buckets) small-file fan-out of a plain dynamic write,
        3. the touched set for the swap comes from listing the job's own
           output directory (every touched bucket has at least one batch
           row, and tombstones are retained, so output buckets == touched
           buckets exactly).
        """
        # implementation split into _merged() so the plan tests can assert
        # the DPP subquery and exchange count without executing a write
        if not batch.take(1):
            return  # empty/poisoned micro-batch: skip the whole merge job
        self._assert_writable()
        self._recover()
        merged = self._merged(batch)
        run_id = uuid.uuid4().hex
        tmp = f"{self.path}.tmp-{run_id}"
        merged.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
        touched = sorted(
            int(name.split("=", 1)[1])
            for name in os.listdir(tmp)
            if name.startswith("bucket=")
        )
        self._commit_buckets(tmp, run_id, touched)

    def _pruned_state_union(self, upd: DataFrame) -> DataFrame:
        """(DPP-pruned live state ∪ upd): the live bucket= scan is
        restricted to ``upd``'s buckets by a broadcast left-semi join whose
        build side carries the DPP-triggering selective filter.  Shared by
        the upsert and aggregate merges so the pruning recipe cannot
        drift."""
        have_state = os.path.isdir(self.path) and any(
            n.startswith("bucket=") for n in os.listdir(self.path)
        )
        if not have_state:
            return upd
        # The declared state schema spares the scan its schema-inference
        # job (one per batch).  It holds only when the batch carries the
        # declared types — the state is the union of such batches; a batch
        # that differs (int offsets under a bigint declaration) keeps the
        # inferring scan, which reads whatever types the state was stored in.
        cols = [*self._COLS, "bucket"]
        schema = f"{self._STATE_SCHEMA}, bucket int"
        declared = {f.name: f.dataType.simpleString() for f in StructType.fromDDL(schema).fields}
        batch = upd.select(*cols).schema.fields
        if any(declared.get(f.name) != f.dataType.simpleString() for f in batch):
            schema = None
        current = pruned_bucket_read(upd.sparkSession, self.path, upd, schema).select(*cols)
        return current.unionByName(upd)

    def _updates(self, batch: DataFrame) -> DataFrame:
        """Batch rows shaped into state form + bucket column.  Overridable:
        index sinks (streaming/ann_index.py) compute derived columns (cell
        assignment) here while reusing the merge/commit machinery.

        Null-op rows are excluded for the same reason as
        ``latest_per_key_merge``: a poison frame (undecodable, op NULL) at
        the highest offset must not win the merge and erase its key from
        the served view (``op != 'd'`` is NULL for it)."""
        return (
            batch.filter(F.col("op").isNotNull())
            .select(*self._COLS)
            .withColumn("bucket", F.pmod(F.hash(self._KEY), F.lit(self.n_buckets)))
        )

    def _merged(self, batch: DataFrame) -> DataFrame:
        return self._merged_from_updates(self._updates(batch))

    def _merged_from_updates(self, upd: DataFrame) -> DataFrame:
        """The merge plan: (DPP-pruned live state ∪ shaped updates) →
        latest row per key, clustered by bucket in its single shuffle.
        Split from ``_merged`` so subclasses that need the shaped updates
        for their own bookkeeping (the IVF-Flat sink journals touched
        cells) can compute them once and reuse the merge tail."""
        horizon = self.gc_horizon()
        if horizon is not None:
            # rows below the persisted GC horizon may reference tombstones
            # already reclaimed by compact(): the replay contract says no
            # NEW data carries offsets below the horizon, so such rows are
            # by definition redeliveries — dropping them is what prevents
            # a replayed old insert from resurrecting a GC'd key
            upd = upd.filter(F.col("offset") >= F.lit(horizon))
        allrows = self._pruned_state_union(upd)
        key = self._KEY
        w = Window.partitionBy("bucket").orderBy(key, F.col("offset").desc())
        return (
            allrows.withColumn("_prev", F.lag(key).over(w))
            .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col(key)))
            .drop("_prev")
        )

    # --- tombstone GC (retention horizon) --------------------------------
    # Delete tombstones are retained so out-of-order/replayed batches
    # cannot resurrect deleted keys — but on a high-churn stream the
    # tombstone population grows without bound.  The GC contract is the
    # Kafka compacted-topic one: once the pipeline's replay watermark has
    # passed offset H (no batch with offsets < H can ever be redelivered),
    # tombstones older than H are dead weight.  compact() persists H
    # FIRST (crash between the two steps leaves extra tombstones — safe),
    # then rewrites buckets without them; the merge path drops incoming
    # rows below the persisted horizon, closing the resurrection window.

    @property
    def _gc_meta(self) -> str:
        return f"{self.path}.gc.json"

    def gc_horizon(self) -> int | None:
        try:
            with open(self._gc_meta) as fh:
                return int(json.load(fh)["horizon"])
        except (OSError, ValueError, KeyError):
            return None

    def _set_gc_horizon(self, horizon: int) -> None:
        prev = self.gc_horizon()
        if prev is not None:
            horizon = max(horizon, prev)  # the watermark never regresses
        tmp = f"{self._gc_meta}.new-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump({"horizon": horizon}, fh)
        os.replace(tmp, self._gc_meta)

    def compact(self, spark: SparkSession, tombstone_horizon: int | None = None) -> None:
        """Maintenance rewrite (L3-compaction analogue for keyed state):
        drop ``op='d'`` tombstones older than the replay watermark.  The
        caller guarantees no future (re)delivery carries offsets below
        ``tombstone_horizon``.  O(state) — schedule like compaction, not
        per batch."""
        self._assert_writable()
        self._recover()
        if tombstone_horizon is not None:
            self._set_gc_horizon(tombstone_horizon)
        horizon = self.gc_horizon()
        if horizon is None or not self.exists():
            return
        kept = spark.read.parquet(self.path).filter(
            (F.col("op") != "d") | (F.col("offset") >= F.lit(horizon))
        )
        self.rewrite_all(kept.repartition(self.n_buckets, "bucket"))

    def rewrite_all(self, content: DataFrame) -> None:
        """Full-view rewrite (the compaction path): every EXISTING bucket
        is either replaced by its new content or removed if now empty —
        still one journaled all-or-nothing commit."""
        self._assert_writable()
        run_id = uuid.uuid4().hex
        tmp = f"{self.path}.tmp-{run_id}"
        content.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
        written = {
            int(name.split("=", 1)[1])
            for name in os.listdir(tmp)
            if name.startswith("bucket=")
        }
        existing = (
            {
                int(name.split("=", 1)[1])
                for name in os.listdir(self.path)
                if name.startswith("bucket=")
            }
            if os.path.isdir(self.path)
            else set()
        )
        self._commit_buckets(tmp, run_id, sorted(written | existing))

    def raw_state(self, spark: SparkSession) -> DataFrame:
        """Full state read (bucket column included) tolerating a
        zero-bucket dir — empty typed frame instead of an
        AnalysisException after a full-GC compact."""
        self._recover()
        if not self.exists():
            return spark.createDataFrame([], f"{self._STATE_SCHEMA}, bucket int")
        return spark.read.parquet(self.path)

    def pruned_read(self, spark: SparkSession, buckets: DataFrame) -> DataFrame:
        """DPP-pruned state read with the same empty-state tolerance."""
        self._recover()
        if not self.exists():
            return spark.createDataFrame([], f"{self._STATE_SCHEMA}, bucket int")
        return pruned_bucket_read(spark, self.path, buckets)

    def state(self, spark: SparkSession) -> DataFrame:
        """Live state: latest row per key, tombstones filtered out."""
        return self.raw_state(spark).filter(F.col("op") != "d").drop("bucket")

    def exists(self) -> bool:
        """True iff any bucket has ever committed — the guard derived
        views use before reading state (a stream that delivered only
        empty batches leaves no bucket dirs, and a bare parquet read of
        the empty dir would raise instead of returning an empty view)."""
        return os.path.isdir(self.path) and any(
            n.startswith("bucket=") for n in os.listdir(self.path)
        )

    def state_stats(self, spark: SparkSession) -> dict:
        """Bounded maintenance metrics — what a compaction scheduler
        consults (tombstone fraction, storage footprint) to decide WHEN
        to run compact(); one aggregate job + a directory walk, never a
        data-sized collect."""
        self._recover()
        if not self.exists():
            return {"buckets": 0, "rows": 0, "tombstones": 0, "bytes": 0,
                    "gc_horizon": self.gc_horizon()}
        df = spark.read.parquet(self.path)
        # derived stores (_BucketStore bands/pairs/views) carry no op
        # column; their reclaimable weight is dead markers if present
        dead = (
            F.sum((F.col("op") == "d").cast("long"))
            if "op" in df.columns
            else (
                F.sum(F.col("dead").cast("long"))
                if "dead" in df.columns
                else F.lit(0).cast("long")
            )
        )
        agg = df.agg(F.count(F.lit(1)).alias("rows"), dead.alias("tombstones")).first()
        n_bytes = 0
        buckets = 0
        for name in os.listdir(self.path):
            if not name.startswith("bucket="):
                continue
            buckets += 1
            d = f"{self.path}/{name}"
            n_bytes += sum(
                os.path.getsize(f"{d}/{f}") for f in os.listdir(d)
                if os.path.isfile(f"{d}/{f}")
            )
        return {
            "buckets": buckets,
            "rows": int(agg["rows"]),
            "tombstones": int(agg["tombstones"] or 0),
            "bytes": n_bytes,
            "gc_horizon": self.gc_horizon(),
        }


class _BucketStore(BucketedUpsertSink):
    """The bucket-dir storage primitive ALONE — journaled all-or-nothing
    multi-bucket commit, crash recovery, and DPP-pruned partial reads —
    for derived views whose bucket contents are maintained by their own
    algebra rather than a keyed latest-per-key merge (the band / pair /
    join-view tables of streaming/dedup_index.py and join_view.py).
    The inherited upsert merge methods (_updates/_merged/write/state) are
    intentionally unused."""

    def read_buckets(self, spark: SparkSession, buckets: DataFrame) -> DataFrame:
        """DPP-pruned read of the buckets named by ``buckets.bucket``."""
        return pruned_bucket_read(spark, self.path, buckets)

    def read_bucket(self, spark: SparkSession, bucket: int) -> DataFrame:
        """STATIC single-bucket read for point serves (VERDICT r13 #3):
        list and scan only ``bucket=<i>`` — unlike the DPP recipe, the
        file listing itself never touches the other buckets, which is
        the 100 TB point-lookup shape.  A missing dir (no rows ever
        committed there) is an empty frame, not an error."""
        sub = os.path.join(self.path, f"bucket={bucket}")
        if not os.path.isdir(sub):
            return spark.createDataFrame([], f"{self._STATE_SCHEMA}, bucket int")
        return spark.read.option("basePath", self.path).parquet(sub)

    def write_buckets(self, content: DataFrame) -> None:
        """Copy-on-write publish: overwrite exactly the buckets present in
        ``content`` through the journaled atomic commit.  A bucket whose
        new content would be EMPTY must be represented by marker rows (the
        views write retracted rows back with ``dead=true``) — partitioned
        parquet cannot emit an empty partition dir, and an absent dir
        would silently keep the bucket's stale rows live."""
        self._assert_writable()
        run_id = uuid.uuid4().hex
        tmp = f"{self.path}.tmp-{run_id}"
        content.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
        touched = sorted(
            int(name.split("=", 1)[1])
            for name in os.listdir(tmp)
            if name.startswith("bucket=")
        )
        self._commit_buckets(tmp, run_id, touched)

    def overwrite_buckets(self, content: DataFrame, buckets: list[int]) -> None:
        """Copy-on-write publish of EXACTLY ``buckets``: each named bucket
        is replaced by its rows in ``content``, or REMOVED if ``content``
        has none (the delta-refresh path needs emptied buckets to
        disappear, which write_buckets' marker-row convention avoids
        instead).  Buckets not named are untouched even if ``content``
        accidentally carries their rows — the caller pre-filters."""
        self._assert_writable()
        run_id = uuid.uuid4().hex
        tmp = f"{self.path}.tmp-{run_id}"
        content.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
        self._commit_buckets(tmp, run_id, sorted(set(buckets)))


class AggregatingSink:
    """Incremental materialized AGGREGATE view over the CDC stream — the
    aggregate-level complement of ``UpsertSink``'s row-level merge (the
    reference materializes aggregates by re-querying the upserted table;
    here the view maintains itself incrementally, one partial-aggregate
    merge per micro-batch).

    Batch algebra (all aggregates chosen mergeable/commutative):
      1. partials = batch.groupBy(pk).agg(count, SUM(value) in DECIMAL,
         min, max, max(offset)) — map-side combinable, one shuffle of the
         BATCH only (never a rescan of raw history),
      2. state' = (state ∪ partials).groupBy(pk).agg(merge) — decimal
         sums make the end state independent of how events were split
         across micro-batches,
      3. transactional two-rename swap (same as UpsertSink).

    foreachBatch delivery is at-least-once; an aggregate merge is NOT
    naturally idempotent, so redelivery is fenced by batch id: the max
    applied id is committed atomically WITH the state (an ``_agg_meta``
    file inside the swapped directory — underscore-prefixed, so parquet
    readers ignore it), and ``write`` skips any batch id at or below it —
    the standard idempotent-foreachBatch transaction pattern (Delta's
    txn appId/version fencing). A fresh pipeline run must pair a fresh
    checkpoint with a fresh state path.

    At 100 TB the state table is one row per key: partition the swap like
    ``BucketedUpsertSink`` (state buckets touched by the batch's keys) or
    land step 2 as a lakehouse MERGE; the batch algebra is unchanged.
    """

    wants_batch_id = True
    # an aggregate merge double-applies on out-of-band redelivery: the
    # batch-id fence only covers checkpointed foreachBatch delivery, NOT
    # DlqWriter.replay (which calls write() with no batch id) — replay
    # into this sink requires purge=True
    is_idempotent = False
    _COLS = ["pk", "n_events", "value_sum", "value_min", "value_max", "last_offset"]

    def __init__(self, path: str) -> None:
        self.path = path

    def _recover(self) -> None:
        _recover_swapped_dir(self.path)

    def _meta_path(self) -> str:
        return f"{self.path}/_agg_meta"

    def _last_applied(self) -> int | None:
        try:
            with open(self._meta_path()) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return None

    @staticmethod
    def _partials(batch: DataFrame) -> DataFrame:
        return batch.groupBy("pk").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("value_sum"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
            F.max("offset").alias("last_offset"),
        )

    def write(self, batch: DataFrame, batch_id: int | None = None) -> None:
        self._recover()
        last = self._last_applied()
        if batch_id is not None and last is not None and batch_id <= last:
            return  # redelivered batch: already folded into the state
        if not batch.take(1):
            return
        spark = batch.sparkSession
        updates = self._partials(batch)
        if os.path.isdir(self.path):
            current = spark.read.parquet(self.path).select(*self._COLS)
            merged = (
                current.unionByName(updates)
                .groupBy("pk")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("value_sum").cast("decimal(18,2)").alias("value_sum"),
                    F.min("value_min").alias("value_min"),
                    F.max("value_max").alias("value_max"),
                    F.max("last_offset").alias("last_offset"),
                )
            )
        else:
            merged = updates
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex}"
        merged.select(*self._COLS).write.mode("overwrite").parquet(tmp)
        if batch_id is not None:
            with open(f"{tmp}/_agg_meta", "w") as fh:
                fh.write(str(batch_id))
        _commit_swap(self.path, tmp)

    def state(self, spark: SparkSession) -> DataFrame:
        """The live aggregate view (decimal sum surfaced as double)."""
        self._recover()
        return spark.read.parquet(self.path).select(
            "pk",
            "n_events",
            F.col("value_sum").cast("double").alias("value_sum"),
            "value_min",
            "value_max",
            "last_offset",
        )


class BucketedAggregatingSink(BucketedUpsertSink):
    """The 100 TB form of ``AggregatingSink``: the materialized aggregate
    view partitioned by ``pmod(hash(pk), n_buckets)`` with per-bucket
    copy-on-write — a micro-batch reads and rewrites ONLY the buckets its
    keys hash into (the upgrade path AggregatingSink's docstring pins).

    Fully executor-side per micro-batch:
      1. batch rows are SHAPED map-only into partial-aggregate form
         (n_events=1, value_sum=value, min=max=value, last_offset=offset)
         — no separate batch aggregation pass; the merge aggregation's
         own map-side partial combine reduces raw event rows to per-key
         partials BEFORE anything crosses the wire,
      2. live state is restricted to touched buckets by the same
         broadcast-semi-join + dynamic-partition-pruning recipe as
         ``BucketedUpsertSink`` (untouched state never read, no driver
         round-trip),
      3. the (bucket, pk) merge aggregation shuffles those per-key
         partials once; a second, key-count-sized repartition clusters
         the aggregated rows by bucket so the partitioned write lands
         one file per touched bucket (events never cross a wire twice —
         only combined rows do),
      4. redelivery fencing is PER BUCKET: each bucket dir carries its
         own ``_agg_meta`` (underscore-prefixed — parquet readers skip
         it) committed atomically with the bucket's rename inside the
         journaled all-or-nothing ``_commit_buckets``, and a replayed
         batch is filtered to the buckets that have not applied it.
    """

    wants_batch_id = True
    # same replay caveat as AggregatingSink: the per-bucket fence does not
    # apply to out-of-band (no-batch-id) replays
    is_idempotent = False
    _COLS = AggregatingSink._COLS
    _STATE_SCHEMA = (
        "pk long, n_events long, value_sum decimal(18,2), value_min double, "
        "value_max double, last_offset long"
    )

    def __init__(self, path: str, n_buckets: int = 16) -> None:
        super().__init__(path, n_buckets)
        # last-applied batch id per bucket, loaded from the _agg_meta files
        # once and maintained in memory afterwards — the per-batch fence
        # check is then driver-RAM, not O(n_buckets) file reads per batch.
        # Invalidated whenever _recover() actually changed bucket contents
        # (this sink is single-writer per state dir, like every swap sink).
        self._meta_cache: dict[int, int] | None = None

    def _recover(self) -> bool:
        changed = super()._recover()
        if changed:
            self._meta_cache = None
        return changed

    def _bucket_meta(self, i: int) -> int | None:
        try:
            with open(f"{self._bucket_dir(i)}/_agg_meta") as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return None

    def _bucket_metas(self) -> dict[int, int]:
        if self._meta_cache is None:
            self._meta_cache = {
                i: m
                for i in range(self.n_buckets)
                if (m := self._bucket_meta(i)) is not None
            }
        return self._meta_cache

    def _merged(self, batch: DataFrame, batch_id: int | None = None) -> DataFrame:
        bucket = F.pmod(F.hash("pk"), F.lit(self.n_buckets))
        shaped = batch.select(
            "pk",
            F.lit(1).cast("long").alias("n_events"),
            F.col("value").cast("decimal(18,2)").alias("value_sum"),
            F.col("value").alias("value_min"),
            F.col("value").alias("value_max"),
            F.col("offset").alias("last_offset"),
            bucket.alias("bucket"),
        )
        if batch_id is not None:
            # cache says which buckets MIGHT fence this batch; in normal
            # operation batch ids are monotonically increasing so this list
            # is empty and NO meta file is read.  A positive fence decision
            # (only reached on redelivery) is verified against disk before
            # skipping the bucket — a crash window healed outside this
            # process (partial rename rollback) must not be masked by a
            # stale in-memory entry.
            suspects = [i for i, m in self._bucket_metas().items() if batch_id <= m]
            fenced = []
            for i in suspects:
                m = self._bucket_meta(i)
                if m is None:
                    self._meta_cache.pop(i, None)
                    continue
                self._meta_cache[i] = m
                if batch_id <= m:
                    fenced.append(i)
            if fenced:
                shaped = shaped.filter(~F.col("bucket").isin(fenced))
        # groupBy WITHOUT a prior repartition: the planner's map-side
        # partial aggregate then combines raw event rows BEFORE the
        # (bucket, pk) exchange, so the wire carries per-key partials, not
        # events.  (An explicit repartition first would sit below the
        # partial aggregate and ship every raw row.)  The second, tiny
        # repartition clusters the already-aggregated rows by bucket so
        # the partitioned write emits one file per touched bucket.
        merged = self._pruned_state_union(shaped).groupBy("bucket", "pk").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_sum").cast("decimal(18,2)").alias("value_sum"),
            F.min("value_min").alias("value_min"),
            F.max("value_max").alias("value_max"),
            F.max("last_offset").alias("last_offset"),
        )
        return merged.repartition(self.n_buckets, "bucket")

    def write(self, batch: DataFrame, batch_id: int | None = None) -> None:
        if not batch.take(1):
            return  # empty/poisoned micro-batch: skip the whole merge job
        self._recover()
        merged = self._merged(batch, batch_id)
        run_id = uuid.uuid4().hex
        tmp = f"{self.path}.tmp-{run_id}"
        merged.select(*self._COLS, "bucket").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(tmp)
        touched = sorted(
            int(name.split("=", 1)[1])
            for name in os.listdir(tmp)
            if name.startswith("bucket=")
        )
        if batch_id is not None:
            # the fence travels inside each bucket dir, atomically with it
            for i in touched:
                with open(f"{tmp}/bucket={i}/_agg_meta", "w") as fh:
                    fh.write(str(batch_id))
        self._commit_buckets(tmp, run_id, touched)
        if batch_id is not None and self._meta_cache is not None:
            for i in touched:
                self._meta_cache[i] = batch_id

    def state(self, spark: SparkSession) -> DataFrame:
        """The live aggregate view (decimal sum surfaced as double)."""
        self._recover()
        return spark.read.parquet(self.path).select(
            "pk",
            "n_events",
            F.col("value_sum").cast("double").alias("value_sum"),
            "value_min",
            "value_max",
            "last_offset",
        )


class DlqWriter:
    """Quarantine failed batches with the reference's diagnostic headers
    (ref P7, streaming/dlq.py:41-56): source coordinates + error metadata."""

    def __init__(self, path: str) -> None:
        self.path = path
        # replayed-row marker table: rows replayed WITHOUT purge stay in
        # the quarantine table (auditable), but must stop pinning the
        # tombstone-GC horizon — see unreplayed()
        self.replayed_path = f"{path}_replayed"

    def _recover(self) -> None:
        # replay(purge=True) commits via the same two-rename swap as the
        # sinks; a crash between the renames would otherwise leave the
        # quarantine path missing and orphan pre-crash rows in .old-*
        if os.path.isdir(os.path.dirname(self.path) or "."):
            _recover_swapped_dir(self.path)

    def write(self, batch: DataFrame, sink_id: str, error: Exception) -> None:
        self._recover()
        (
            batch.select(
                F.col("topic").alias("dlq_source_topic"),
                F.col("partition").alias("dlq_source_partition"),
                F.col("offset").alias("dlq_source_offset"),
                F.to_json(
                    F.struct(
                        "seq",
                        "pk",
                        "op",
                        "event_type",
                        "value",
                        "props",
                        F.unix_micros(F.col("event_ts")).alias("event_ts_us"),
                    )
                ).alias("payload"),
            )
            .withColumn("dlq_error_message", F.lit(str(error)[:500]))
            .withColumn("dlq_error_type", F.lit(type(error).__name__))
            .withColumn(
                "dlq_error_stacktrace",
                F.lit("".join(traceback.format_exception(error))[:2000]),
            )
            .withColumn("dlq_timestamp", F.lit(int(time.time() * 1000)))
            .withColumn("dlq_sink_id", F.lit(sink_id))
            .write.mode("append")
            .parquet(self.path)
        )

    def read(self, spark: SparkSession) -> DataFrame:
        self._recover()
        return spark.read.parquet(self.path)

    def unreplayed(self, spark: SparkSession) -> DataFrame:
        """Quarantined rows whose replay is still OUTSTANDING — the set
        the tombstone-GC horizon must stay below.  Rows replayed with
        ``purge=True`` left the table; rows replayed without purge are
        anti-joined out via the marker table, so one old quarantined
        (and since-replayed) offset cannot pin the horizon forever."""
        q = self.read(spark)
        if not os.path.isdir(self.replayed_path):
            return q
        done = spark.read.parquet(self.replayed_path)
        return q.join(
            done,
            ["dlq_source_topic", "dlq_source_partition", "dlq_source_offset", "dlq_sink_id"],
            "left_anti",
        )

    def replay(
        self, spark: SparkSession, sink, sink_id: str | None = None, purge: bool = False
    ) -> int:
        """Reprocess quarantined events through a (now healthy) sink.

        Payloads are parsed back into the envelope schema from the stored
        JSON; the source coordinates come from the dlq_source_* columns, so
        idempotent sinks dedup any rows that also succeeded elsewhere.
        Returns the number of replayed events.

        ``purge=True`` removes the replayed rows from the quarantine table
        after a successful sink write (two-rename swap), so a repeated
        replay invocation is a no-op.  REQUIRED when the target sink
        declares ``is_idempotent = False`` (AggregatingSink and
        BucketedAggregatingSink — their batch-id fences cover only
        checkpointed foreachBatch delivery, not this out-of-band path,
        which calls ``write`` with no batch id); optional for idempotent
        sinks, where it only keeps the quarantine table from re-sending.
        """
        q = self.read(spark)
        if sink_id is not None:
            q = q.filter(F.col("dlq_sink_id") == sink_id)
        payload_schema = (
            "seq long, pk long, op string, event_type string, value double, props string, event_ts_us long"
        )
        env = q.select(
            F.col("dlq_source_topic").alias("topic"),
            F.col("dlq_source_partition").alias("partition"),
            F.col("dlq_source_offset").alias("offset"),
            F.from_json(F.col("payload"), payload_schema).alias("p"),
        ).select(
            "topic",
            "partition",
            "offset",
            "p.seq",
            "p.pk",
            "p.op",
            "p.event_type",
            "p.value",
            "p.props",
            F.timestamp_micros(F.col("p.event_ts_us")).alias("event_ts"),
        )
        # the same event may be quarantined by several batches; topic must be
        # part of the key — with TopicRouterSink multi-topic streams two topics
        # can legitimately share (partition, offset) coordinates
        env = env.dropDuplicates(["topic", "partition", "offset"])
        # persist: count() and the sink write would otherwise each execute
        # the full read + from_json + dedup plan
        env.persist()
        try:
            n = env.count()
            if n:
                sink.write(env)
            if n and not purge:
                # the rows stay quarantined (auditable) but are now
                # applied: record them so unreplayed() stops counting
                # them toward the GC-horizon clamp.  Guard: with
                # sink_id=None on a MULTI-sink quarantine, this call
                # replayed every family's rows into ONE sink — the other
                # families' rows are still un-applied at their own sinks,
                # so marking them would release the clamp early and let
                # GC fence out their eventual replay.  Mark only when the
                # rows demonstrably belong to a single sink family;
                # otherwise keep the clamp (GC stalls safe-side) and say so.
                fams = [r[0] for r in q.select("dlq_sink_id").distinct().collect()]
                if sink_id is not None or len(fams) <= 1:
                    q.select(
                        "dlq_source_topic",
                        "dlq_source_partition",
                        "dlq_source_offset",
                        "dlq_sink_id",
                    ).dropDuplicates().write.mode("append").parquet(self.replayed_path)
                else:
                    log.warning(
                        "replay(sink_id=None) over a multi-sink quarantine "
                        "(%s): rows NOT marked replayed — the GC-horizon "
                        "clamp stays until each family is replayed with "
                        "its sink_id (or purged)",
                        sorted(fams),
                    )
            if purge and n:
                if sink_id is None:
                    shutil.rmtree(self.path, ignore_errors=True)
                    shutil.rmtree(self.replayed_path, ignore_errors=True)
                else:
                    remaining = self.read(spark).filter(
                        F.col("dlq_sink_id") != sink_id
                    )
                    tmp = f"{self.path}.tmp-{uuid.uuid4().hex}"
                    # coalesce(1): an all-filtered frame still writes one
                    # schema-bearing file, keeping the table readable
                    remaining.coalesce(1).write.mode("overwrite").parquet(tmp)
                    _commit_swap(self.path, tmp)
        finally:
            env.unpersist()
        return n


class TopicRouterSink:
    """Per-topic routing fan-out (ref P2 topic routing + F1 fan-out,
    sources/wal/reader.py:187-200): each envelope row is dispatched to the
    sink registered for its topic; unrouted topics go to the fallback (or
    raise). With topic derived per-row, this is the multi-table CDC
    multiplexing path — one stream, N destination tables."""

    # the router must RECEIVE the micro-batch id so it can forward it to
    # routed sinks that fence on it (AggregatingSink) — otherwise routing
    # through it silently disabled their redelivery protection
    wants_batch_id = True

    def __init__(self, routes: dict[str, object], fallback: object | None = None) -> None:
        self.routes = routes
        self.fallback = fallback

    def write(self, batch: DataFrame, batch_id: int | None = None) -> None:
        topics = [r[0] for r in batch.select("topic").distinct().collect()]
        for topic in sorted(topics):
            sub = batch.filter(F.col("topic") == topic)
            sink = self.routes.get(topic, self.fallback)
            if sink is None:
                raise KeyError(f"no route for topic {topic!r} and no fallback sink")
            if getattr(sink, "wants_batch_id", False):
                sink.write(sub, batch_id=batch_id)
            else:
                sink.write(sub)


def _output_roots(name: str, sink) -> list[tuple[str, str]]:
    """(name, directory) for every place ``sink`` writes: its ``.path``
    or its lakehouse ``.table.root``; a topic router contributes the
    roots of its routed sinks."""
    routes = getattr(sink, "routes", None)
    if routes is not None:
        subs = {**routes, "<fallback>": getattr(sink, "fallback", None)}
        return [r for topic, sub in subs.items() if sub is not None
                for r in _output_roots(f"{name}[{topic}]", sub)]
    root = getattr(sink, "path", None)
    if root is None:
        root = getattr(getattr(sink, "table", None), "root", None)
    return [(name, root)] if isinstance(root, str) else []


def overlapping_roots(roots: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Name pairs whose output directories are equal or nested.  Sinks of
    one micro-batch write concurrently, so a shared directory is a race:
    one sink's stale-tmp sweep deletes another's in-flight tmp dir, or
    two Hadoop ``_temporary`` dirs clash."""
    norm = [(n, os.path.realpath(p)) for n, p in roots]
    return [
        (a, b)
        for i, (a, pa) in enumerate(norm)
        for b, pb in norm[i + 1:]
        if pa == pb or pa.startswith(pb + os.sep) or pb.startswith(pa + os.sep)
    ]


@dataclass
class CdcPipeline:
    """File-source streaming pipeline with multi-sink fan-out and DLQ.

    ``run_available_now`` processes everything currently in ``source_dir``
    through micro-batches and stops — the deterministic test mode.  A
    continuous deployment uses the same object with a processing-time
    trigger (and a Kafka source instead of files; the envelope transform
    and sink protocol are source-agnostic).

    Fan-out: each micro-batch is materialized once, then every sink's
    ``write`` (and the poison-row quarantine) runs concurrently on its
    own thread — the reference's ``asyncio.gather`` over sinks.  Sinks
    are isolated: a failing sink's batch is quarantined to the DLQ under
    its own ``dlq_sink_id`` while the others commit, and ``sink_status``
    records each sink's last outcome for readiness.  Because sinks write
    at the same time, no two sinks (nor the DLQ) may share an output
    directory or nest one inside another; the constructor refuses it.
    """

    spark: SparkSession
    source_dir: str
    checkpoint_dir: str
    sinks: dict[str, object] = field(default_factory=dict)
    dlq: DlqWriter | None = None
    schema: str = EVENTS_SCHEMA
    max_files_per_trigger: int | None = None  # backpressure (ref F3)
    # source/envelope overrides: a Kafka deployment swaps in
    # sources.kafka.read_kafka_stream + its Debezium envelope transform
    # (the reference's transport-adapter seam, sources/factory.py:15-174)
    stream_builder: object | None = None  # Callable[[SparkSession], DataFrame]
    envelope_fn: object | None = None  # Callable[[DataFrame], DataFrame], default to_envelope
    # Optional registry schema monitor (observability.SchemaRegistryMonitor):
    # polled per micro-batch; in halt mode an incompatible version bump
    # raises SchemaDriftError, failing the query — the reference's
    # stop_on_incompatible posture (ref streaming/schema_monitor.py:16-138).
    schema_monitor: object | None = None
    # Scheduled state maintenance (the L3-compaction cadence applied to
    # streaming state, ref lakehouse/maintenance.py:178-244): every N
    # micro-batches, call compact() on every sink that supports it —
    # reclaiming dead markers / stale band rows, and GC'ing delete
    # tombstones when ``tombstone_horizon_fn`` supplies the source's
    # replay low-watermark ("no event with offset < H will ever be
    # (re)delivered").  That bound is a SOURCE property (Kafka retention,
    # CDC slot LSN horizon) the deployment must assert — it is not
    # derivable from inside the pipeline, so it arrives as a callable.
    # The pipeline clamps it below any offset still quarantined in the
    # DLQ: quarantined rows were never applied, and a GC fence must not
    # swallow their eventual replay.
    maintenance_every_n_batches: int | None = None
    tombstone_horizon_fn: object | None = None  # Callable[[], int | None]
    # last write outcome per sink: {batch_id, ok, error} — what
    # observability.health(sink_status=...) turns into readiness
    sink_status: dict[str, dict] = field(default_factory=dict, init=False)

    def __post_init__(self) -> None:
        roots = [r for sid, sink in self.sinks.items() for r in _output_roots(sid, sink)]
        if self.dlq is not None:
            roots.append(("<dlq>", self.dlq.path))
        clashes = overlapping_roots(roots)
        if clashes:
            raise ValueError(
                f"sink output paths overlap: {clashes} — sinks write "
                "concurrently, so each needs its own directory"
            )

    def _write_sink(self, sink, env: DataFrame, batch_id: int) -> None:
        if getattr(sink, "wants_batch_id", False):
            # batch-id-fenced sinks (AggregatingSink) need the micro-batch
            # id to make their merge idempotent under at-least-once
            # redelivery
            sink.write(env, batch_id=batch_id)
        else:
            sink.write(env)

    def _quarantine_poison(self, poison: DataFrame) -> None:
        if poison.take(1):
            self.dlq.write(
                poison.drop("decode_error"),
                "decode",
                RuntimeError("undecodable frame (decode_error set)"),
            )

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self.schema_monitor is not None:
            self.schema_monitor.poll_once()
            self.schema_monitor.ensure_compatible()
        env = (self.envelope_fn or to_envelope)(batch)
        # Row-level poison routing (ref P7): frames the decoder marked
        # undecodable go to the DLQ as rows; sinks only ever see healthy
        # rows.  (Per-sink FAILURES below still quarantine whole batches —
        # that is the sink-fault path, this is the data-fault path.)
        #
        # Materialize-once via eager checkpoint rather than persist() (r15):
        # the cached-plan reference a persist leaves in every consumer stage
        # serialized the decode subtree into each sink write's task binary,
        # and the InMemoryRelation scan measured slower than re-reading
        # checkpointed blocks — interleaved A/B over 6 availableNow runs:
        # pipeline e2e median 1.411 -> 1.237 s (−12%), min −17%.  On
        # executor loss the micro-batch fails and the stream's foreachBatch
        # replay recovers (the designed recovery; materialize() switches to
        # a reliable checkpoint on a cluster).
        env = materialize(env, eager=True)
        poison = None
        if self.dlq is not None and "decode_error" in env.columns:
            poison = env.filter(F.col("decode_error").isNotNull())
            env = env.filter(F.col("decode_error").isNull())
        if "decode_error" in env.columns:
            env = env.drop("decode_error")
        # Concurrent fan-out: a micro-batch's sink writes are each a chain
        # of small Spark jobs, bound by job latency rather than cores, so
        # running them side by side overlaps that latency.  Each target is
        # wrapped in the caller's thread-local Spark properties, so its
        # jobs keep the caller's job group and description.
        tasks = {sid: (self._write_sink, sink, env, batch_id) for sid, sink in self.sinks.items()}
        if poison is not None:
            tasks[None] = (self._quarantine_poison, poison)
        with ThreadPoolExecutor(max_workers=max(1, len(tasks))) as pool:
            futures = {
                key: pool.submit(inheritable_thread_target(self.spark)(fn), *args)
                for key, (fn, *args) in tasks.items()
            }
        errors = {key: fut.exception() for key, fut in futures.items()}
        for err in errors.values():
            if err is not None and not isinstance(err, Exception):
                raise err  # KeyboardInterrupt/SystemExit are not sink faults
        for sink_id in self.sinks:
            err = errors[sink_id]
            self.sink_status[sink_id] = {
                "batch_id": batch_id,
                "ok": err is None,
                "error": None if err is None else f"{type(err).__name__}: {str(err)[:500]}",
            }
        if errors.get(None) is not None:
            # the poison rows were not quarantined: fail the batch so the
            # stream replays it (idempotent sinks converge on the replay)
            raise errors[None]
        # per-sink isolation: quarantine each failed sink's batch, one DLQ
        # append at a time, in sink declaration order
        for sink_id in self.sinks:
            if errors[sink_id] is None:
                continue
            if self.dlq is None:
                raise errors[sink_id]
            self.dlq.write(env, sink_id, errors[sink_id])
        if (
            self.maintenance_every_n_batches
            and (batch_id + 1) % self.maintenance_every_n_batches == 0
        ):
            self.run_maintenance()

    def run_maintenance(self) -> None:
        """One maintenance sweep over every compactable sink (see the
        dataclass fields for the cadence/horizon contract)."""
        horizon = self.tombstone_horizon_fn() if self.tombstone_horizon_fn else None
        if horizon is not None and self.dlq is not None and os.path.isdir(self.dlq.path):
            pending = self.dlq.unreplayed(self.spark).agg(
                F.min("dlq_source_offset").alias("m")
            ).first()["m"]
            if pending is not None and int(pending) < horizon:
                # a GC fence at `horizon` would silently drop the replay of
                # quarantined rows below it — clamp to their oldest
                # UN-replayed offset (replayed-without-purge rows are
                # excluded, so an old serviced quarantine row cannot stall
                # GC forever), and say so: a stalled horizon is an operator
                # signal to replay or purge the DLQ
                log.warning(
                    "tombstone GC horizon clamped %d -> %d by un-replayed "
                    "DLQ rows; replay (or replay with purge=True) to let "
                    "GC progress",
                    horizon,
                    int(pending),
                )
                horizon = int(pending)
        for sink in self.sinks.values():
            fn = getattr(sink, "compact", None)
            if not callable(fn):
                continue
            # the streaming-state maintenance contract is the
            # tombstone_horizon keyword; lakehouse table compaction has
            # its own signature/cadence (CLI + VersionedTable.compact)
            # and is deliberately not swept here
            if "tombstone_horizon" not in inspect.signature(fn).parameters:
                continue
            fn(self.spark, tombstone_horizon=horizon)

    def run_available_now(self) -> None:
        if self.stream_builder is not None:
            stream = self.stream_builder(self.spark)
        else:
            reader = self.spark.readStream.schema(self.schema)
            if self.max_files_per_trigger:
                reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
            stream = reader.parquet(self.source_dir)
        query = (
            stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()

