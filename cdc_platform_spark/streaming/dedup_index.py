"""Incremental near-duplicate detection under document CDC updates.

The 100 TB dedup story is not "re-run MinHash-LSH over the corpus
nightly": when 0.1% of documents change, only those documents should be
(re)hashed and only their band buckets probed.  This sink maintains two
materialized views as a pair:

- **index/** — the LSH signature index: latest (doc_id, offset, op,
  shingles, sig) per document, delete rows retained as tombstones (the
  same keyed-upsert semantics as ``UpsertSink``; reference J1/W2,
  ``/root/reference/src/cdc_platform/sinks/iceberg.py:187-197``),
- **pairs/** — the verified near-dup pair set (doc_a < doc_b, exact
  Jaccard >= threshold), kept consistent with the index.

Batch algebra per micro-batch (corpus-scan-free):
  1. shingle + 16-minhash signatures are computed for the BATCH's
     documents only (the exact expressions of the batch operator —
     ``shingles_col`` / ``minhash_sig_col`` from operators/dedup.py —
     so streamed and batch signatures can never drift),
  2. candidate pairs = batch band rows equi-joined against the live
     index's band rows on (band, minhash) — every candidate involves a
     batch document by construction, so pairs between untouched
     documents are never re-derived,
  3. exact Jaccard verification (array_intersect) runs only on those
     candidates,
  4. the pair view update is: drop every pair touching a batch doc_id
     (two anti-joins), add the freshly verified ones — updates and
     deletes therefore retract stale pairs,
  5. both views commit via the two-rename swap with crash recovery;
     a crash between the two swaps is healed by the batch replay
     (index merge is idempotent, the pair update is a deterministic
     function of index + batch).

``pairs()`` must equal the from-scratch ``dedup_minhash_lsh`` batch
result over the live documents — the driver query's oracle states
exactly that.

At this scale-in-miniature both views are single swapped dirs; the
``BucketedUpsertSink`` layout (bucket = band hash) is the drop-in
upgrade for the index, exactly as for the upsert state.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_platform_spark.operators.dedup import (
    MINHASH_JACCARD_THRESHOLD,
    md5_60bit,
    minhash_sig_col,
    shingles_col,
)
from cdc_platform_spark.streaming.pipeline import (
    BucketedUpsertSink,
    _BucketStore,
    _commit_swap,
    _recover_swapped_dir,
)
from cdc_platform_spark.streaming.views import MultiStoreView

_PAIR_SCHEMA = "doc_a long, doc_b long, n_common long, jaccard double"


class MinHashIndexSink:
    """Materialized LSH index + near-dup pair view over a document CDC
    stream of (doc_id, offset, op, text)."""

    def __init__(self, path: str) -> None:
        self.index_path = f"{path}/index"
        self.pairs_path = f"{path}/pairs"
        os.makedirs(path, exist_ok=True)

    def _recover(self) -> None:
        _recover_swapped_dir(self.index_path)
        _recover_swapped_dir(self.pairs_path)

    def write(self, batch: DataFrame) -> None:
        if not batch.take(1):
            return  # empty/replayed-out micro-batch: both views unchanged
        self._recover()
        spark = batch.sparkSession
        run_id = uuid.uuid4().hex

        # 1. latest row per doc within the batch, signatures for upserts only
        latest = (
            batch.groupBy("doc_id")
            .agg(F.max_by(F.struct("offset", "op", "text"), F.col("offset")).alias("m"))
            .select("doc_id", "m.offset", "m.op", "m.text")
        )
        sh = F.when(
            F.col("op") != "d", shingles_col(F.split(F.col("text"), " "))
        ).otherwise(F.array().cast("array<string>"))
        rows = latest.select("doc_id", "offset", "op", sh.alias("shingles")).withColumn(
            "sig",
            F.when(
                F.size("shingles") > 0,
                minhash_sig_col(F.transform(F.col("shingles"), lambda s: md5_60bit(s))),
            ),
        )

        # 2. merge into the signature index (latest per doc_id by offset)
        merged = rows
        if os.path.isdir(self.index_path):
            merged = spark.read.parquet(self.index_path).unionByName(rows)
        merged = (
            merged.groupBy("doc_id")
            .agg(
                F.max_by(
                    F.struct("offset", "op", "shingles", "sig"), F.col("offset")
                ).alias("m")
            )
            .select("doc_id", "m.offset", "m.op", "m.shingles", "m.sig")
        )
        tmp_index = f"{self.index_path}.tmp-{run_id}"
        merged.write.mode("overwrite").parquet(tmp_index)

        # 3-4. pair maintenance, computed from the just-written index so the
        # band join and the Jaccard verification see one consistent state
        m = spark.read.parquet(tmp_index)
        live = m.filter((F.col("op") != "d") & (F.size("shingles") > 0))
        touched = latest.select("doc_id").distinct()
        batch_live = live.join(touched, "doc_id", "leftsemi")
        bb = batch_live.select("doc_id", F.posexplode("sig").alias("i", "h"))
        lb = live.select(
            F.col("doc_id").alias("other_id"), F.posexplode("sig").alias("i", "h")
        )
        cand = (
            bb.join(lb, ["i", "h"])
            .filter(F.col("doc_id") != F.col("other_id"))
            .select(
                F.least("doc_id", "other_id").alias("da"),
                F.greatest("doc_id", "other_id").alias("db"),
            )
            .distinct()
        )
        sa = live.select(F.col("doc_id").alias("da"), F.col("shingles").alias("sa"))
        sb = live.select(F.col("doc_id").alias("db"), F.col("shingles").alias("sb"))
        ni = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
        jac = ni.cast("double") / (F.size("sa") + F.size("sb") - ni)
        fresh = (
            cand.join(sa, "da")
            .join(sb, "db")
            .withColumn("n_common", ni.cast("long"))
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= MINHASH_JACCARD_THRESHOLD)
            .select(F.col("da").alias("doc_a"), F.col("db").alias("doc_b"), "n_common", "jaccard")
        )
        if os.path.isdir(self.pairs_path):
            surviving = (
                spark.read.parquet(self.pairs_path)
                .join(touched.withColumnRenamed("doc_id", "doc_a"), "doc_a", "leftanti")
                .join(touched.withColumnRenamed("doc_id", "doc_b"), "doc_b", "leftanti")
                .select("doc_a", "doc_b", "n_common", "jaccard")
            )
        else:
            surviving = spark.createDataFrame([], _PAIR_SCHEMA)
        tmp_pairs = f"{self.pairs_path}.tmp-{run_id}"
        # fresh pairs all touch a batch doc, surviving pairs touch none:
        # the union is disjoint by construction, no dedup exchange needed
        surviving.unionByName(fresh).coalesce(1).write.mode("overwrite").parquet(tmp_pairs)

        # 5. commit both views (replay heals a crash between the swaps)
        _commit_swap(self.index_path, tmp_index)
        _commit_swap(self.pairs_path, tmp_pairs)

    def pairs(self, spark: SparkSession) -> DataFrame:
        """The live near-dup pair view."""
        self._recover()
        return spark.read.parquet(self.pairs_path)


class _SigIndexSink(BucketedUpsertSink):
    """The LSH signature index in the bucketed copy-on-write layout:
    latest (doc_id, offset, op, shingles, sig) per document, bucketed by
    ``pmod(hash(doc_id), n)`` — same merge semantics as the flat index
    (tombstones retained), batch rows arrive pre-shaped."""

    _KEY = "doc_id"
    _COLS = ["doc_id", "offset", "op", "shingles", "sig"]
    _STATE_SCHEMA = (
        "doc_id long, offset long, op string, "
        "shingles array<string>, sig array<long>"
    )


class BucketedMinHashIndexSink(MultiStoreView):
    """The 100 TB form of :class:`MinHashIndexSink`: all three tables are
    hash-bucketed with per-bucket copy-on-write through the journaled
    atomic commit, and the per-batch candidate probe reads ONLY the band
    buckets the batch's band keys hash into (dynamic partition pruning)
    instead of exploding the full live index.

    - **index/** — :class:`_SigIndexSink`: the signature index bucketed by
      ``hash(doc_id)`` (latest-per-doc merge, tombstones retained).
    - **bands/** — (doc_id, i, h) rows bucketed by ``hash(i, h)`` — the
      probe-side layout: a batch band key lands in exactly one bucket.
      Maintained as a SUPERSET of the current live band rows: each batch
      adds its documents' rows and opportunistically drops touched
      documents' stale rows from the buckets it rewrites anyway.  Stale
      rows elsewhere are tolerated because every candidate is
      currency-checked against the live index (``sig[i] == h`` for the
      partner's CURRENT signature) before verification, so a stale band
      row can never create or resurrect a pair — it is only dead weight
      until its bucket's next rewrite (or a compaction pass at scale).
      This is what keeps maintenance replay-idempotent WITHOUT reading
      the pre-merge signatures: no crash window between the index and
      bands commits can corrupt either.
    - **pairs/** — the verified pair set stored as adjacency rows: each
      pair (a, b) is TWO rows (k=a, o=b) and (k=b, o=a), bucketed by
      ``hash(k)`` — so every pair touching a document is findable from
      that document's bucket.  Retraction for a batch is per-bucket
      copy-on-write: read the touched documents' buckets to learn their
      partners, rewrite exactly the buckets of ``hash(touched) ∪
      hash(partners) ∪ hash(fresh)``; retracted rows are written back
      with ``dead=true`` so a bucket emptied by retraction still commits
      (partitioned parquet cannot emit an empty dir) — dead rows are
      filtered from the view and dropped on the bucket's next rewrite.

    Final ``pairs()`` must equal the flat sink's (and the from-scratch
    batch ``dedup_minhash_lsh``) result — asserted by the equivalence
    test and the ``sq_dedup_index_stream`` driver oracle.
    """

    _INDEX = _SigIndexSink
    _DEAD_ROW_STORES = ("pairs",)

    def __init__(self, path: str, n_buckets: int = 16, read_only: bool = False) -> None:
        super().__init__(path, n_buckets, read_only)
        self.index = self._open("index", self._INDEX)
        self.bands = self._open("bands")
        self.pair_store = self._open("pairs")

    def _batch_rows(self, batch: DataFrame) -> DataFrame:
        """Latest row per doc within the batch + signatures — the exact
        expressions of the batch operator (shingles_col / minhash_sig_col)
        so streamed and batch signatures can never drift."""
        latest = (
            batch.filter(F.col("op").isNotNull())
            .groupBy("doc_id")
            .agg(F.max_by(F.struct("offset", "op", "text"), F.col("offset")).alias("m"))
            .select("doc_id", "m.offset", "m.op", "m.text")
        )
        sh = F.when(
            F.col("op") != "d", shingles_col(F.split(F.col("text"), " "))
        ).otherwise(F.array().cast("array<string>"))
        return latest.select("doc_id", "offset", "op", sh.alias("shingles")).withColumn(
            "sig",
            F.when(
                F.size("shingles") > 0,
                minhash_sig_col(F.transform(F.col("shingles"), lambda s: md5_60bit(s))),
            ),
        )

    def _apply(self, batch: DataFrame, keep) -> None:
        spark = batch.sparkSession
        nb = F.lit(self.n_buckets)
        rows = keep(self._batch_rows(batch))
        touched = rows.select("doc_id")  # distinct by construction

        # 1. signature index: per-bucket copy-on-write keyed merge
        self.index.write(rows)

        # 2. the batch docs' POST-MERGE rows (an out-of-order batch may
        # carry an older version than the index already holds; pairs
        # must re-derive from what actually won the merge) — DPP-pruned
        # to the touched docs' index buckets
        tb = touched.select(F.pmod(F.hash("doc_id"), nb).alias("bucket"))
        batch_live = keep(
            self.index.pruned_read(spark, tb)
            .join(F.broadcast(touched), "doc_id", "leftsemi")
            .filter((F.col("op") != "d") & (F.size("shingles") > 0))
        )

        # 3. bands: add the batch docs' current band rows;
        # opportunistically drop touched docs' stale rows from the
        # buckets this batch rewrites anyway
        bb = keep(
            batch_live.select("doc_id", F.posexplode("sig").alias("i", "h"))
            .withColumn("bucket", F.pmod(F.hash("i", "h"), nb))
        )
        band_content = bb.select("doc_id", "i", "h", "bucket")
        if self.bands.exists():
            surviving_bands = (
                self.bands.read_buckets(spark, bb)
                .join(F.broadcast(touched), "doc_id", "leftanti")
                .select("doc_id", "i", "h", "bucket")
            )
            band_content = surviving_bands.unionByName(band_content)
        # an empty band_content writes no bucket dirs and the commit
        # no-ops, so no emptiness pre-check job is needed
        self.bands.write_buckets(
            band_content.repartition(self.n_buckets, "bucket")
        )

        # 4. candidate probe: batch band rows vs the band view pruned
        # to THEIR buckets (the DPP partition filter the plan test
        # asserts), currency-checked against the live index so stale
        # band rows cannot create candidates the batch LSH would not
        if self.bands.exists():
            lb = self.bands.read_buckets(spark, bb).select(
                F.col("doc_id").alias("other_id"), "i", "h", "bucket"
            )
        else:  # first batch was all deletes: nothing to probe
            lb = spark.createDataFrame([], "other_id long, i int, h long, bucket int")
        cand0 = keep(
            bb.join(lb, ["bucket", "i", "h"])
            .filter(F.col("doc_id") != F.col("other_id"))
            .withColumn("ob", F.pmod(F.hash("other_id"), nb))
        )

        # the partners' index rows, DPP-pruned to THEIR buckets — the
        # currency check and the Jaccard verification never scan index
        # buckets no candidate partner hashes into, so the whole batch
        # touches only batch-adjacent state.  Computed ONCE with both
        # columns and persisted: the frame is candidate-partner-sized
        # and feeds two joins (currency check, verification), so a
        # recompute would plan and run the pruned read twice per batch.
        partner_rows = keep(
            self.index.pruned_read(
                spark, cand0.select(F.col("ob").alias("bucket"))
            )
            .filter((F.col("op") != "d") & (F.size("shingles") > 0))
            .select(
                F.col("doc_id").alias("other_id"),
                F.col("bucket").alias("ob"),
                F.col("sig").alias("osig"),
                F.col("shingles").alias("osh"),
            )
        )

        cand = (
            cand0.join(partner_rows.select("other_id", "ob", "osig"), ["other_id", "ob"])
            .filter(F.element_at("osig", (F.col("i") + 1).cast("int")) == F.col("h"))
            .select("doc_id", "other_id")
            .distinct()
        )

        # 5. exact Jaccard verification on candidates only
        ver = (
            cand.join(batch_live.select("doc_id", F.col("shingles").alias("sh")), "doc_id")
            .withColumn("ob", F.pmod(F.hash("other_id"), nb))
            .join(partner_rows.select("other_id", "ob", "osh"), ["other_id", "ob"])
        )
        ni = F.size(F.array_intersect(F.col("sh"), F.col("osh")))
        jac = ni.cast("double") / (F.size("sh") + F.size("osh") - ni)
        fresh = (
            ver.withColumn("n_common", ni.cast("long"))
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= MINHASH_JACCARD_THRESHOLD)
            .select(F.col("doc_id").alias("k"), F.col("other_id").alias("o"), "n_common", "jaccard")
        )
        # both adjacency orientations; a batch-batch pair arises once
        # per endpoint, so the mirror union double-counts it — distinct
        # folds the copies (jaccard math is symmetric, values identical)
        fresh_rows = (
            fresh.unionByName(
                fresh.select(
                    F.col("o").alias("k"), F.col("k").alias("o"), "n_common", "jaccard"
                )
            )
            .distinct()
            .withColumn("bucket", F.pmod(F.hash("k"), nb))
            .withColumn("dead", F.lit(False))
        )

        # 6. pair view: retract everything touching a batch doc, add
        # the fresh rows — per-bucket copy-on-write over exactly
        # hash(touched) ∪ hash(partners) ∪ hash(fresh)
        pair_content = fresh_rows
        if self.pair_store.exists():
            t_rows = (
                self.pair_store.read_buckets(spark, tb)
                .filter(~F.col("dead"))
                .join(
                    F.broadcast(touched.withColumnRenamed("doc_id", "k")),
                    "k",
                    "leftsemi",
                )
            )
            partner_buckets = t_rows.select(
                F.pmod(F.hash("o"), nb).alias("bucket")
            )
            all_buckets = (
                tb.unionByName(partner_buckets)
                .unionByName(fresh_rows.select("bucket"))
                .distinct()
            )
            tk = F.broadcast(
                touched.select(F.col("doc_id").alias("k"), F.lit(True).alias("_tk"))
            )
            to = F.broadcast(
                touched.select(F.col("doc_id").alias("o"), F.lit(True).alias("_to"))
            )
            existing = (
                self.pair_store.read_buckets(spark, all_buckets)
                .filter(~F.col("dead"))
                .join(tk, "k", "left")
                .join(to, "o", "left")
                # retracted rows stay as dead markers so a bucket
                # emptied by retraction still commits its rewrite
                .withColumn("dead", F.col("_tk").isNotNull() | F.col("_to").isNotNull())
                .select("k", "o", "n_common", "jaccard", "dead", "bucket")
            )
            pair_content = existing.unionByName(fresh_rows)
        self.pair_store.write_buckets(
            pair_content.repartition(self.n_buckets, "bucket")
        )

    def _compact_derived(self, spark: SparkSession) -> None:
        """Rewrite the band buckets keeping only CURRENT rows — each (doc,
        i, h) must match the live index's signature — then drop the pair
        store's dead markers.  The probe currency check already ignores
        stale band rows; this reclaims the dead weight the opportunistic
        per-batch cleaning leaves in rarely-rewritten buckets."""
        if self.bands.exists():
            live = self.index.raw_state(spark).filter(
                (F.col("op") != "d") & (F.size("shingles") > 0)
            )
            current = (
                live.select("doc_id", F.posexplode("sig").alias("i", "h"))
                .withColumn("bucket", F.pmod(F.hash("i", "h"), F.lit(self.n_buckets)))
                .select("doc_id", "i", "h", "bucket")
            )
            self.bands.rewrite_all(current.repartition(self.n_buckets, "bucket"))
        super()._compact_derived(spark)

    def pairs(self, spark: SparkSession) -> DataFrame:
        """The live near-dup pair view (canonical doc_a < doc_b rows)."""
        self._recover()
        if not self.pair_store.exists():
            return spark.createDataFrame([], _PAIR_SCHEMA)
        return (
            spark.read.parquet(self.pair_store.path)
            .filter(~F.col("dead"))
            .filter(F.col("k") < F.col("o"))
            .select(
                F.col("k").alias("doc_a"), F.col("o").alias("doc_b"), "n_common", "jaccard"
            )
        )

    def clusters(self, spark: SparkSession) -> DataFrame:
        """Near-dup CLUSTERS over the maintained pair view: connected
        components (pointer-jumping label propagation, the batch
        ``dedup_clusters`` algorithm) computed at read time from the
        incrementally maintained pairs.

        Components are recomputed per read rather than maintained as
        state because pair RETRACTIONS can split a component — detecting
        a split incrementally requires re-deriving the affected
        component's connectivity anyway, and the input here is the PAIR
        set (near-dup-proportional), not the corpus: O(pairs · log
        diameter), with the maintenance cost already paid by the pair
        view."""
        from cdc_platform_spark.operators.dedup import connected_components

        return (
            connected_components(self.pairs(spark).select("doc_a", "doc_b"))
            .select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
        )


class _CuratedSigIndexSink(_SigIndexSink):
    """Signature index that also retains the document text AND its
    write-time curation metrics — the curated corpus is served straight
    from the index (no side lookup), and the quality metrics are computed
    ONCE per document version at write time instead of re-derived from
    text on every curated() read (at 100 TB the serving read then scans
    three narrow columns, not the text)."""

    _COLS = [
        "doc_id", "offset", "op", "text", "lang", "source",
        "content_md5", "n_words", "distinct_ratio",
        "decon_grams", "shingles", "sig",
    ]
    _STATE_SCHEMA = (
        "doc_id long, offset long, op string, text string, "
        "lang string, source string, "
        "content_md5 string, n_words int, distinct_ratio double, "
        "decon_grams array<long>, shingles array<string>, sig array<long>"
    )


class CuratedCorpusSink(BucketedMinHashIndexSink):
    """The full LLM training-data curation funnel as ONE incrementally
    maintained artifact: under a document CDC stream this keeps
    (a) the latest live text per document, (b) the LSH signature index +
    band probe view, and (c) the verified near-dup pair view — and serves
    ``curated()``, the corpus a training run would actually read:

      live documents
        → quality filter  (>= CURATION_MIN_WORDS words, >=
          CURATION_MIN_DISTINCT_RATIO distinct-word ratio — the exact
          ``curation_survivors`` expressions of the batch funnel, one
          definition so streamed and batch curation can never disagree)
        → exact dedup     (lowest doc_id per content md5)
        → near-dup suppression (drop every ``doc_b`` of a verified pair —
          the canonical lower id survives; the pair view is the maintained
          index, so suppression needs NO per-read LSH work).

    Storage cost over :class:`BucketedMinHashIndexSink` is the text
    column in the index; everything else is the same per-bucket
    copy-on-write machinery.  ``curated()`` is a derived read — quality
    metrics are cheap JVM expressions over the stored text, suppression
    is one broadcast anti join against the pair view."""

    _INDEX = _CuratedSigIndexSink

    def __init__(self, path: str, n_buckets: int = 16, read_only: bool = False) -> None:
        super().__init__(path, n_buckets, read_only=read_only)
        # decontamination as MAINTAINED state (not a per-read derive):
        # - bench_grams/: latest (doc_id, offset, op, decon_grams) per
        #   BENCHMARK document — a keyed-upsert mirror of the index's
        #   bench partition, kept so the gram set is an O(bench) read
        #   (bench partitions are human-curated and fixed-size at
        #   deployment; a single swapped dir suffices at any scale),
        # - decon_leaks/: the leak-evidence view — one (doc_id, bench_id,
        #   gh) row per live (corpus doc, bench doc, shared gram) —
        #   maintained per batch from the POST-MERGE index rows of the
        #   touched docs only (O(touched)); a batch that changes the
        #   bench side triggers the one full recompute the semantics
        #   require.  decontaminated()'s hit set = DISTINCT doc_id;
        #   contamination_report() = the shared rollup over the triples.
        #   Gram-level provenance (not bare hit ids) is what makes BOTH
        #   retractions exact under doc CDC — a doc's delete may un-leak
        #   a gram only if no other live doc shares it, which distinct
        #   counts over triples answer and counters cannot (replay-safe:
        #   everything is recomputed from post-merge state, never
        #   incremented).  Worst-case size is boilerplate-gram × corpus —
        #   exactly the case the stop-gram cap exists for (SCALING.md).
        self.bench_path = f"{path}/bench_grams"
        self.hit_store = _BucketStore(
            f"{path}/decon_leaks", n_buckets, read_only=read_only
        )

    # the decon views (hit store + bench mirror + contamination report)
    # straddle a batch from the FIRST store commit until
    # _maintain_decon_hits finishes — a superset of the base class's
    # stores window — so they get their own marker spanning the whole
    # write.  Checked by the decon-dependent reads only: curated(),
    # dedup-rate, clusters etc. are consistent as soon as the base
    # stores marker clears, and blocking them for the (potentially long)
    # decon rebuild would be a needless availability outage.

    @property
    def _decon_marker(self) -> str:
        return f"{self.path}/_decon-inflight"

    def state_fingerprint(self, scope: str = "all") -> tuple:
        """The base fingerprint, scoped to the stores a read actually
        consults so a serve does not retry — or exhaust, under
        back-to-back maintenance — on state it never reads: ``"text"``
        covers the index/bands/pairs stores and their batch marker (the
        curated view and everything derived from it); ``"all"`` (the safe
        default) additionally covers the decontamination state — bench
        mirror, hit store and decon marker, which decon maintenance
        commits AFTER the stores marker clears.  Scopes stay
        CONSERVATIVE: a batch commits index→bands→pairs under one marker,
        so the narrowest useful unit is the whole text-store family."""
        from cdc_platform_spark.streaming.serving import fs_fingerprint

        if scope == "text":
            return super().state_fingerprint()
        return fs_fingerprint(
            [*(store.path for store in self.stores.values()), self.bench_path, self.hit_store.path],
            [self._stores_marker, self._decon_marker],
        )

    def _recover(self) -> None:
        super()._recover()
        _recover_swapped_dir(self.bench_path, read_only=self.read_only)
        self.hit_store._recover()

    def _refuse_if_decon_inflight(self) -> None:
        """Read-only gate for the decon-dependent views — the leak view,
        bench mirror and curated stores commit in sequence inside one
        batch (the ordering crash-replay healing requires, see
        _maintain_decon_hits), so between any two of those commits a
        contamination read would mix two batches' states."""
        self._refuse_if_inflight(self._decon_marker, "decontamination")

    def write(self, batch: DataFrame) -> bool:
        # set BEFORE the first store commit: the decon views' straddle
        # window opens with the index commit, not with the decon phase
        if not self.read_only:
            self._set_marker(self._decon_marker)
        if not super().write(batch):
            self._clear_marker(self._decon_marker)
            return False
        self._maintain_decon_hits(batch)
        self._clear_marker(self._decon_marker)
        return True

    def _decon_state_is_legacy(self) -> bool:
        """True when the index holds state written BEFORE the maintained
        decontamination views existed (round 8 and earlier): index present
        but no bench mirror.  The mirror is created by the first
        bench-touching write under the current code, so its absence next
        to a populated index means the leak view cannot be trusted —
        reads fall back to the per-read derive and the next write
        bootstraps the maintained form."""
        return self.index.exists() and not os.path.isdir(self.bench_path)

    def _bench_gram_rows(self, spark: SparkSession, path: str | None = None) -> DataFrame:
        """(bench_id, gh) rows of the LIVE benchmark mirror — O(bench).
        ``path`` overrides the read location (the rebuild path derives the
        gram set from the NOT-YET-SWAPPED tmp mirror, see
        ``_maintain_decon_hits``)."""
        p = path or self.bench_path
        if not os.path.isdir(p):
            return spark.createDataFrame([], "bench_id long, gh long")
        return (
            spark.read.parquet(p)
            .filter(F.col("op") != "d")
            .select(
                F.col("doc_id").alias("bench_id"), F.explode("decon_grams").alias("gh")
            )
        )

    def _maintain_decon_hits(self, batch: DataFrame) -> None:
        """Maintain the leak-evidence view after the index merge.

        Incremental by default: the touched docs' POST-MERGE rows (a
        DPP-pruned read of their index buckets — replay-idempotent, the
        leak evidence is a deterministic function of the merged state)
        are gram-joined against the broadcast bench mirror, and only the
        touched buckets are rewritten (retracted rows become dead markers,
        exactly the pair-view convention).  A batch touching any BENCH
        document changes the gram set itself, so it first upserts the
        bench mirror and then runs the one full recompute that a
        bench-side change genuinely requires — rare by contract (eval
        suites change on human cadence, not corpus cadence)."""
        from cdc_platform_spark.operators.text import DECON_BENCH_MOD

        spark = batch.sparkSession
        nb = F.lit(self.n_buckets)
        is_bench = F.col("doc_id") % DECON_BENCH_MOD == 0

        def triples(live_rows: DataFrame, bench_path: str | None = None) -> DataFrame:
            return (
                live_rows.select("doc_id", F.explode("decon_grams").alias("gh"))
                .join(F.broadcast(self._bench_gram_rows(spark, bench_path)), "gh")
                .select("doc_id", "bench_id", "gh")
                .withColumn("bucket", F.pmod(F.hash("doc_id"), nb))
                .withColumn("dead", F.lit(False))
            )

        with self.persisting() as keep:
            touched = keep(batch.filter(F.col("op").isNotNull()).select("doc_id").distinct())
            bench_touched = touched.filter(is_bench)
            # full-rebuild branch also fires when the state predates the
            # maintained views (pre-mirror dirs): the first write under
            # the current code bootstraps mirror + leak view from the
            # index, after which the mirror dir existing (even empty)
            # routes every bench-free batch through the incremental path
            if bench_touched.take(1) or self._decon_state_is_legacy():
                # bench side changed: upsert the tiny mirror, then rebuild
                if self._decon_state_is_legacy():
                    # bootstrap (pre-mirror state dir or first-ever batch):
                    # the mirror is the POST-MERGE index's whole bench
                    # partition — building it from the touched set alone
                    # would miss bench docs written by older code
                    content = (
                        self.index.raw_state(spark)
                        .filter(is_bench)
                        .select("doc_id", "offset", "op", "decon_grams")
                    )
                else:
                    tbb = bench_touched.select(
                        F.pmod(F.hash("doc_id"), nb).alias("bucket")
                    )
                    post_bench = (
                        self.index.pruned_read(spark, tbb)
                        .join(F.broadcast(bench_touched), "doc_id", "leftsemi")
                        .select("doc_id", "offset", "op", "decon_grams")
                    )
                    content = (
                        spark.read.parquet(self.bench_path)
                        .join(F.broadcast(bench_touched), "doc_id", "leftanti")
                        .unionByName(post_bench)
                    )
                # ORDER MATTERS for crash healing: the leak view rewrites
                # FIRST (derived from the not-yet-swapped tmp mirror), the
                # mirror swap commits LAST.  A crash before the rewrite
                # leaves the mirror unswapped, so the replay re-enters this
                # branch (legacy check / bench_touched replays identically);
                # a crash between rewrite and swap likewise replays into a
                # deterministic re-rebuild.  Swapping the mirror first
                # would flip _decon_state_is_legacy() to False mid-crash
                # and route the replay down the incremental path with the
                # leak view never rebuilt.  The cost of this ordering is a
                # crash window (leak view committed, mirror not yet
                # swapped) where contamination_report() would mix the two
                # batches' states; the tmp mirror still on disk marks it,
                # and read-only serving (_recover) refuses while the
                # marker is present.  The writer itself never reads in
                # the window — replay heals it (tested).
                tmp = f"{self.bench_path}.tmp-{uuid.uuid4().hex}"
                content.coalesce(1).write.mode("overwrite").parquet(tmp)
                live = self.index.raw_state(spark).filter(
                    (F.col("op") != "d") & ~is_bench
                )
                self.hit_store.rewrite_all(
                    triples(live, bench_path=tmp).repartition(self.n_buckets, "bucket")
                )
                _commit_swap(self.bench_path, tmp)
                return
            # incremental path: bench set unchanged, touched docs re-scored
            # from their post-merge rows only
            tb = touched.select(F.pmod(F.hash("doc_id"), nb).alias("bucket"))
            post = (
                self.index.pruned_read(spark, tb)
                .join(F.broadcast(touched), "doc_id", "leftsemi")
                .filter(F.col("op") != "d")
            )
            fresh = triples(post)
            content = fresh
            if self.hit_store.exists():
                tk = F.broadcast(
                    touched.select("doc_id", F.lit(True).alias("_t"))
                )
                existing = (
                    self.hit_store.read_buckets(spark, tb)
                    .filter(~F.col("dead"))
                    .join(tk, "doc_id", "left")
                    # a touched doc's stale rows become dead markers so a
                    # bucket emptied by retraction still commits
                    .withColumn("dead", F.col("_t").isNotNull())
                    .select("doc_id", "bench_id", "gh", "bucket", "dead")
                )
                content = existing.unionByName(fresh)
            self.hit_store.write_buckets(content.repartition(self.n_buckets, "bucket"))

    def _compact_derived(self, spark: SparkSession) -> None:
        super()._compact_derived(spark)
        self._drop_dead_rows(spark, self.hit_store)

    def _batch_rows(self, batch: DataFrame) -> DataFrame:
        from cdc_platform_spark.operators.text import (
            curation_metric_cols,
            decon_gram_hashes_col,
        )

        # domain columns are OPTIONAL in the CDC stream: a corpus feed
        # that carries (lang, source) enables mix_sample(); one that does
        # not stores NULLs and every other view is unaffected
        has_domains = {"lang", "source"} <= set(batch.columns)
        struct_cols = ["offset", "op", "text"] + (
            ["lang", "source"] if has_domains else []
        )
        latest = (
            batch.filter(F.col("op").isNotNull())
            .groupBy("doc_id")
            .agg(F.max_by(F.struct(*struct_cols), F.col("offset")).alias("m"))
            .select("doc_id", "m.*")
        )
        sh = F.when(
            F.col("op") != "d", shingles_col(F.split(F.col("text"), " "))
        ).otherwise(F.array().cast("array<string>"))
        # write-time quality metrics: THE batch funnel expressions
        # (curation_metric_cols), computed once per document version so
        # the serving read never re-derives them from text; the
        # decontamination gram hashes (decon_gram_hashes_col — the exact
        # batch text_decontaminate expression) likewise, so the
        # decontaminated() read never re-tokenizes the corpus
        md5c, nwc, drc = curation_metric_cols()
        metric = lambda c: F.when(F.col("op") != "d", c)  # noqa: E731
        null_str = F.lit(None).cast("string")
        return latest.select(
            "doc_id",
            "offset",
            "op",
            "text",
            (F.col("lang") if has_domains else null_str).alias("lang"),
            (F.col("source") if has_domains else null_str).alias("source"),
            metric(md5c).alias("content_md5"),
            metric(nwc).alias("n_words"),
            metric(drc).alias("distinct_ratio"),
            metric(decon_gram_hashes_col(F.col("text"))).alias("decon_grams"),
            sh.alias("shingles"),
        ).withColumn(
            "sig",
            F.when(
                F.size("shingles") > 0,
                minhash_sig_col(F.transform(F.col("shingles"), lambda s: md5_60bit(s))),
            ),
        )

    def curated(self, spark: SparkSession) -> DataFrame:
        """The curated corpus view: (doc_id, n_words, distinct_ratio)."""
        from cdc_platform_spark.operators.text import curation_survivors_from_metrics

        self._recover()
        if not self.index.exists():
            # a stream of only-empty batches commits no bucket dirs; the
            # curated corpus is simply empty, not an AnalysisException
            return spark.createDataFrame(
                [], "doc_id long, n_words long, distinct_ratio double"
            )
        # serve from the write-time metric columns: the scan reads three
        # narrow columns, never the text (column pruning does the rest)
        scored = (
            spark.read.parquet(self.index.path)
            .filter(F.col("op") != "d")
            .select("doc_id", "content_md5", "n_words", "distinct_ratio")
        )
        surv = curation_survivors_from_metrics(scored)
        if self.pair_store.exists():
            # Suppression set = every doc_b of a verified pair.  The
            # adjacency store keeps BOTH orientations, so the doc_b values
            # are exactly the rows with k > o — and those rows already live
            # in bucket pmod(hash(k), n) = pmod(hash(doc_id), n), the SAME
            # bucketing as the index side of this anti-join: on a
            # bucketed-catalog deployment the join is storage-aligned and
            # shuffle-free.  No broadcast hint: the near-dup set of a web
            # corpus is corpus-proportional (commonly 30-50% of documents),
            # so forcing a broadcast would materialize billions of ids on
            # the driver; the strategy is left to AQE, which broadcasts at
            # test scale and shuffles at 100 TB.
            suppressed = (
                spark.read.parquet(self.pair_store.path)
                .filter(~F.col("dead") & (F.col("k") > F.col("o")))
                .select(F.col("k").alias("doc_id"))
                .distinct()
            )
            surv = surv.join(suppressed, "doc_id", "leftanti")
        return surv.select(
            "doc_id", F.col("n_words").cast("long").alias("n_words"), "distinct_ratio"
        )

    def decontaminated(
        self, spark: SparkSession, stop_gram_cap: int | None = None
    ) -> DataFrame:
        """``curated()`` with benchmark decontamination composed in — the
        point a real pretraining funnel drops contaminated documents:

          curated corpus
            → drop the benchmark partition itself (an eval set is never
              trained on; fixture stand-in: doc_id % DECON_BENCH_MOD == 0)
            → drop every document sharing ANY word DECON_NGRAM-gram with
              a live benchmark document (the exact ``text_decontaminate``
              overlap rule — gram hashes are stored at write time by
              ``_batch_rows``, so this read never re-tokenizes text).

        Incremental under CDC on BOTH sides, and — unlike the round-8
        form, which re-derived the hit set per read by exploding EVERY
        live document's grams — served from the MAINTAINED
        contaminated-id view (``_maintain_decon_hits``): corpus updates
        re-score only the touched documents at write time; a benchmark
        doc's update or delete rebuilds the view (the one case a
        bench-side change genuinely requires), so contamination retracts
        automatically.

        Scale shape: the read is ``curated()`` minus one anti-join
        against the hit view — O(hits), no gram explode, no corpus scan.
        The write path pays O(touched docs' grams) per batch against the
        broadcast bench gram set (fixed-size at deployment: eval suites
        are human-curated, not corpus-proportional; the fixture's mod-97
        slice merely stands in for it).

        ``stop_gram_cap`` (round 10, OPT-IN — changes semantics exactly
        like the capped batch report) ignores boilerplate grams (live
        corpus DF > cap) as contamination evidence: a document is a hit
        only if it shares a NON-boilerplate gram with a live benchmark
        doc.  DF comes from the maintained triples (``_drop_stop_grams``),
        so the capped read is still O(leak evidence)."""
        from cdc_platform_spark.operators.text import DECON_BENCH_MOD

        self._recover()
        self._refuse_if_decon_inflight()
        surv = self.curated(spark)
        is_bench = F.col("doc_id") % DECON_BENCH_MOD == 0
        out = surv.filter(~is_bench)
        if self._decon_state_is_legacy():
            # state dir written before the maintained views existed: the
            # leak view cannot be trusted until the next write bootstraps
            # it, so fall back to the per-read derive over the stored
            # grams (the round-8 read — correct, just O(corpus tokens))
            g = (
                spark.read.parquet(self.index.path)
                .filter(F.col("op") != "d")
                .select("doc_id", "decon_grams")
            )
            bench_grams = (
                g.filter(is_bench).select(F.explode("decon_grams").alias("gh")).distinct()
            )
            cg = (
                g.filter(~is_bench)
                .select("doc_id", F.explode("decon_grams").alias("gh"))
                .join(F.broadcast(bench_grams), "gh", "leftsemi")
            )
            if stop_gram_cap is not None:
                # restricted to bench grams, cg still holds EVERY corpus
                # doc carrying each gram, so per-gram DF here is exact
                cg = self._drop_stop_grams(cg, stop_gram_cap)
            return out.join(cg.select("doc_id").distinct(), "doc_id", "leftanti")
        if not self.hit_store.exists():
            return out
        hits = spark.read.parquet(self.hit_store.path).filter(~F.col("dead"))
        if stop_gram_cap is not None:
            hits = self._drop_stop_grams(hits.select("doc_id", "gh"), stop_gram_cap)
        return out.join(hits.select("doc_id").distinct(), "doc_id", "leftanti")

    @staticmethod
    def _drop_stop_grams(leaks: DataFrame, stop_gram_cap: int) -> DataFrame:
        """Exclude boilerplate grams from the leak triples by the EXACT
        batch ``stop_gram_cap`` semantics (corpus doc-frequency > cap),
        computed from the maintained view itself: every live corpus doc
        carrying a bench gram has a triple for it (carrying IS leaking
        when the gram is benchmark-side), so ``count_distinct(doc_id)``
        per gh over the view equals that gram's live-corpus DF — the cap
        is a read-time refinement over already-maintained state, no
        corpus scan and no second maintained table.  (Write-time capped
        STORAGE would need per-gram DF state to retract/resurrect triples
        as grams cross the cap under CDC — see SCALING.md; the read-time
        form is exact and O(leak evidence).)  The rule itself is the
        batch operator's ``drop_stop_grams`` — one shared definition."""
        from cdc_platform_spark.operators.text import drop_stop_grams

        return drop_stop_grams(leaks, stop_gram_cap)

    def contamination_report(
        self, spark: SparkSession, stop_gram_cap: int | None = None
    ) -> DataFrame:
        """Contamination ATTRIBUTION from maintained state — the batch
        ``text_contamination_report`` semantics over the LIVE corpus: per
        live benchmark document, how many live corpus documents share a
        word 8-gram with it, how many of its grams are leaked, and the
        leak ratio.  The report an eval owner reads to decide which
        benchmark tasks are compromised, kept current under CDC on both
        sides.

        Round 9: served from the MAINTAINED leak-evidence view — base
        rows from the O(bench) mirror, distinct counts from the triples
        the write path keeps current — instead of re-exploding every live
        document's grams per read; the rollup body is the batch
        operator's ``contamination_rollup`` (one shared definition), so
        the served report cannot drift from the batch semantics.  Read
        cost is O(bench + leak evidence), never O(corpus tokens).

        ``stop_gram_cap`` (round 10, OPT-IN — it changes semantics the
        same way ``text_contamination_report_capped`` does vs the plain
        report) excludes grams appearing in more than ``cap`` live corpus
        documents, matching the batch capped operator exactly (see
        ``_drop_stop_grams``)."""
        from cdc_platform_spark.operators.text import contamination_rollup

        self._recover()
        self._refuse_if_decon_inflight()
        if self._decon_state_is_legacy():
            # pre-mirror state dir: per-read derive from the stored grams
            # (the round-8 read) until the next write bootstraps the views
            from cdc_platform_spark.operators.text import (
                contamination_report_from_grams,
            )

            g = (
                spark.read.parquet(self.index.path)
                .filter(F.col("op") != "d")
                .select("doc_id", F.col("decon_grams").alias("grams"))
            )
            return contamination_report_from_grams(g, stop_gram_cap=stop_gram_cap)
        if not os.path.isdir(self.bench_path):
            return spark.createDataFrame(
                [],
                "bench_id long, n_grams long, n_leaked_grams long, "
                "n_leaking_docs long, leak_ratio double",
            )
        base = (
            spark.read.parquet(self.bench_path)
            .filter(F.col("op") != "d")
            .select(
                F.col("doc_id").alias("bench_id"),
                F.size("decon_grams").alias("n_grams"),
            )
        )
        leaks = (
            spark.read.parquet(self.hit_store.path)
            .filter(~F.col("dead"))
            .select("bench_id", "doc_id", "gh")
            if self.hit_store.exists()
            else spark.createDataFrame([], "bench_id long, doc_id long, gh long")
        )
        if stop_gram_cap is not None:
            leaks = self._drop_stop_grams(leaks, stop_gram_cap)
        return contamination_rollup(base, leaks)

    def dedup_rate_by_domain(self, spark: SparkSession) -> DataFrame:
        """The per-(lang, source) dedup DASHBOARD from maintained state —
        the batch ``dedup_rate_by_domain`` semantics over the LIVE corpus:
        per domain the doc count, exact-duplicate count (non-canonical
        per stored content_md5), near-dup-suppressed count (doc_b of the
        maintained pair view), unique survivors, and dup rate.  Entirely
        derived: metrics come from write-time columns, pairs from the
        maintained view — no re-hash, no re-shingle, one bounded-domain
        rollup (the batch operator's ``dedup_rate_rollup`` — one shared
        definition)."""
        from cdc_platform_spark.operators.dedup import dedup_rate_rollup

        self._recover()
        if not self.index.exists():
            return spark.createDataFrame(
                [],
                "lang string, source string, n_docs long, n_exact_dups long, "
                "n_near_dup_suppressed long, n_unique long, dup_rate double",
            )
        from pyspark.sql import Window

        live = (
            spark.read.parquet(self.index.path)
            .filter(F.col("op") != "d")
            .select("doc_id", "lang", "source", "content_md5")
        )
        w = Window.partitionBy("content_md5")
        flagged = live.select(
            "doc_id",
            "lang",
            "source",
            (F.col("doc_id") > F.min("doc_id").over(w)).cast("int").alias("is_exact_dup"),
        )
        supp = (
            (
                spark.read.parquet(self.pair_store.path)
                .filter(~F.col("dead") & (F.col("k") > F.col("o")))
                .select(F.col("k").alias("doc_id"))
                .distinct()
            )
            if self.pair_store.exists()
            else spark.createDataFrame([], "doc_id long")
        )
        return dedup_rate_rollup(flagged, supp)

    def mix_sample(
        self,
        spark: SparkSession,
        decontaminated: bool = False,
        stop_gram_cap: int | None = None,
    ) -> DataFrame:
        """The training MIX served from maintained state: temperature
        resampling (the exact batch ``temperature_resample`` body — one
        definition) over the LIVE curated corpus's (lang, source)
        domains.  This is the artifact a mix scheduler actually consumes:
        the batch ``text_temperature_resample`` runs over a fixture
        table, this runs over ``curated()`` — quality-filtered,
        exact-deduped, near-dup-suppressed — with domains read from the
        same maintained index (stored at write time when the CDC stream
        carries them).  A derived read like ``clusters()``: a document
        add/update/delete changes its domain's count and the md5 order,
        so the sample is recomputed per read from O(curated) narrow
        columns — never from text.  ``decontaminated=True`` draws the mix
        from the decontaminated corpus instead — the composition a
        pretraining scheduler actually wants (never mix in eval docs or
        their leaks)."""
        from cdc_platform_spark.operators.curation import temperature_resample

        base = (
            self.decontaminated(spark, stop_gram_cap=stop_gram_cap)
            if decontaminated
            else self.curated(spark)
        )
        surv = base.select("doc_id")
        if not self.index.exists():
            return temperature_resample(
                spark.createDataFrame([], "lang string, source string, doc_id long")
            )
        doms = (
            spark.read.parquet(self.index.path)
            .filter(F.col("op") != "d")
            .select("doc_id", "lang", "source")
        )
        # prefilter=True: the md5-prefix candidate filter (bit-identical
        # output, property-tested) keeps the window input at
        # ~OVERSHOOT*K*sqrt(n) per domain instead of the whole curated
        # corpus — THE serving read a mix scheduler hits must not shuffle
        # O(corpus) rows per call
        return temperature_resample(
            doms.join(surv, "doc_id", "leftsemi"), prefilter=True
        )

    def mix_sample_tokens(
        self,
        spark: SparkSession,
        decontaminated: bool = False,
        stop_gram_cap: int | None = None,
    ) -> DataFrame:
        """The TOKEN-budgeted training mix from maintained state — the
        batch ``token_budget_sample`` body (one shared definition) over
        the live curated corpus: per (lang, source) domain a sqrt-law
        token budget filled in md5(doc_id) order, word counts read from
        the WRITE-TIME ``n_words`` metric (never re-tokenizes text).
        Training budgets are denominated in tokens, so this is the pool a
        scheduler actually provisions; ``decontaminated=True`` draws from
        the decontaminated corpus."""
        from cdc_platform_spark.operators.curation import token_budget_sample

        base = (
            self.decontaminated(spark, stop_gram_cap=stop_gram_cap)
            if decontaminated
            else self.curated(spark)
        )
        surv = base.select("doc_id", F.col("n_words").cast("long").alias("n_words"))
        if not self.index.exists():
            return token_budget_sample(
                spark.createDataFrame(
                    [], "lang string, source string, doc_id long, n_words long"
                )
            )
        doms = (
            spark.read.parquet(self.index.path)
            .filter(F.col("op") != "d")
            .select("doc_id", "lang", "source")
        )
        # prefilter=True: the md5-prefix candidate filter (bit-identical
        # output, token-sum sufficiency fallback) keeps the window input
        # at ~OVERSHOOT*K_tok*sqrt(total_tokens) per domain instead of
        # the whole curated corpus — same scale contract as mix_sample()
        return token_budget_sample(
            doms.join(surv, "doc_id").select("lang", "source", "doc_id", "n_words"),
            prefilter=True,
        )

    N_SHARDS = 16

    def shard_manifest(
        self,
        spark: SparkSession,
        decontaminated: bool = False,
        stop_gram_cap: int | None = None,
    ) -> DataFrame:
        """Training-export shard manifest served FROM the maintained
        curated corpus: (shard_id, n_docs, n_tokens).

        Sharding is STABLE hashing — ``md5_60bit(doc_id) % N_SHARDS`` (the
        engine's cross-engine hash primitive, so the oracle reproduces the
        assignment) — which is what an incrementally maintained export
        wants at 100 TB: a document add/update/delete perturbs exactly one
        shard, unlike the batch ``text_export_shards`` prefix-sum packing
        where one insert shifts every later shard boundary.  The manifest
        is a derived read over ``curated()`` (or ``decontaminated()``
        with ``decontaminated=True`` — the export a pretraining run
        actually ships): one map-side-combinable aggregate, no extra
        maintained state."""
        surv = (
            self.decontaminated(spark, stop_gram_cap=stop_gram_cap)
            if decontaminated
            else self.curated(spark)
        )
        shard = F.pmod(md5_60bit(F.col("doc_id").cast("string")), F.lit(self.N_SHARDS))
        return (
            surv.groupBy(shard.alias("shard_id"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_words").alias("n_tokens"),
            )
        )

    def cluster_representatives(self, spark: SparkSession) -> DataFrame:
        """Quality-based cluster representatives from MAINTAINED state —
        the batch ``dedup_cluster_representatives`` policy (longest
        member per near-dup component, ties to the lowest doc_id) with
        the quality signal read from the WRITE-TIME ``n_words`` column:
        components come from the maintained pair view, lengths from the
        stored metrics — the read never re-tokenizes text.  One
        O(pairs · log diameter) components pass + one map-side-combinable
        max_by per cluster (the batch ``cluster_reps_rollup`` — one
        shared definition)."""
        from cdc_platform_spark.operators.dedup import cluster_reps_rollup

        self._recover()
        if not self.index.exists():
            return spark.createDataFrame(
                [],
                "cluster_id long, rep_doc_id long, rep_n_words long, n_members long",
            )
        comp = self.clusters(spark)
        nw = (
            spark.read.parquet(self.index.path)
            .filter(F.col("op") != "d")
            .select("doc_id", F.col("n_words").cast("long").alias("n_words"))
        )
        return cluster_reps_rollup(comp.join(nw, "doc_id"))

    def export_docs(
        self,
        spark: SparkSession,
        decontaminated: bool = False,
        stop_gram_cap: int | None = None,
    ) -> DataFrame:
        """The training EXPORT read itself — (doc_id, shard_id, n_words,
        text) for every curated (or decontaminated) survivor, with the
        same stable shard assignment as ``shard_manifest``.  Every other
        serving read deliberately never touches the text column; this is
        the one read whose JOB is the text, the rows a training run
        actually tokenizes.  Scale shape: the survivor set and the index
        are bucketed by the same ``pmod(hash(doc_id), n)``, so the
        text join is storage-aligned on a bucketed catalog (strategy left
        to AQE — the survivor side is corpus-proportional); the text scan
        is column-pruned to (doc_id, text) and the export is typically
        written straight back out partitioned by shard_id, touching each
        text value exactly once."""
        self._recover()
        if not self.index.exists():
            return spark.createDataFrame(
                [], "doc_id long, shard_id long, n_words long, text string"
            )
        surv = (
            self.decontaminated(spark, stop_gram_cap=stop_gram_cap)
            if decontaminated
            else self.curated(spark)
        )
        txt = (
            spark.read.parquet(self.index.path)
            .filter(F.col("op") != "d")
            .select("doc_id", "text")
        )
        shard = F.pmod(md5_60bit(F.col("doc_id").cast("string")), F.lit(self.N_SHARDS))
        return surv.join(txt, "doc_id").select(
            "doc_id", shard.alias("shard_id"), "n_words", "text"
        )

    def export_to_table(
        self,
        spark: SparkSession,
        table_root: str,
        decontaminated: bool = False,
        stop_gram_cap: int | None = None,
    ) -> str:
        """Publish the training export as a LAKEHOUSE SNAPSHOT — the
        reproducibility seam between curation and training: each call
        writes the current ``export_docs`` rows as one
        :class:`~cdc_platform_spark.lakehouse.table.VersionedTable`
        overwrite and returns its snapshot id, so a training run PINS the
        exact corpus it consumed (``cdc-spark query --snapshot-id``, time
        travel, ``diff`` between two training datasets, rollback) while
        curation keeps moving underneath.  The corpus state itself is
        only READ — an export must never perturb the pipeline's stores —
        and each snapshot is immutable once written, the property a
        "what data was model X trained on" audit actually needs.  Scale
        shape: one column-pruned pass over the survivors (the one read
        whose job is the text), written through the table format's
        transactional commit; on a real Iceberg catalog the same call
        maps through the gated backend unchanged.

        Torn-export protection: the in-flight gates run when the source
        DataFrame is BUILT, but the overwrite reads the corpus parquet
        lazily while writing — a writer bucket swap mid-export would bake
        a state matching neither side of the batch into an IMMUTABLE,
        PINNABLE snapshot (strictly worse than the torn serve read
        ``cli._collect_stable`` guards against).  Same protocol: bracket
        the commit with :meth:`state_fingerprint`; on overlap, un-commit
        the torn snapshot (``discard_snapshot`` — never published, so
        nothing can have pinned it) and retry against the new committed
        state.

        One residue the un-commit cannot reach: an attempt that fails
        DURING the overwrite's source read (the error-with-moved-
        fingerprint retry path) dies before ``_commit`` runs, so there is
        no snapshot to discard — just an orphan, never-referenced file
        group under ``<table_root>/data/``.  It is invisible to every
        read (reads go through snapshot manifests) and is reclaimed by
        the next ``expire_snapshots`` run, the same GC that owns all
        unreferenced groups."""
        from cdc_platform_spark.lakehouse.table import VersionedTable
        from cdc_platform_spark.streaming.serving import run_stable

        table = VersionedTable(spark, table_root)

        def commit_export() -> str:
            return table.overwrite(
                self.export_docs(
                    spark, decontaminated=decontaminated, stop_gram_cap=stop_gram_cap
                )
            )

        def uncommit_torn(sid: str) -> None:
            try:
                table.discard_snapshot(sid)
            except (ValueError, KeyError, OSError):
                # best-effort cleanup, never a reason to abort the retry:
                # ValueError/KeyError — a concurrent commit already built
                # on (or removed) the torn snapshot, so sole-ownership
                # cleanup is impossible; OSError — a concurrent
                # expire_snapshots raced the discard's own removes (HEAD
                # or manifest gone between its existence check and
                # os.remove).  In every case the retry still publishes a
                # consistent snapshot, the torn sid was never returned to
                # anyone, and any group the discard left behind is
                # unreferenced and reclaimed by expire_snapshots' GC
                pass

        return run_stable(
            commit_export,
            lambda: self.state_fingerprint("all" if decontaminated else "text"),
            on_torn=uncommit_torn,
        )

    def curated_unified(self, spark: SparkSession, neighbor_view: DataFrame) -> DataFrame:
        """The curated corpus with BOTH dedup signals applied — the funnel
        a real pretraining pipeline runs: text-level near-dup suppression
        (this sink's maintained pair view) AND embedding-level near-dup
        suppression from a :class:`~cdc_platform_spark.streaming.
        neighbor_index.CosineNeighborIndexSink` view (vec_id ≡ doc_id).

        The embedding rule mirrors the text one: a document whose best
        embedding neighbor has cosine >= UNIFIED_EMB_DUP_THRESHOLD and a
        LOWER id is dropped — the canonical lowest id survives.  Like the
        text suppression set, the dup set is corpus-proportional at
        100 TB, so no broadcast hint — AQE picks the strategy."""
        from cdc_platform_spark.operators.dedup import UNIFIED_EMB_DUP_THRESHOLD

        losers = (
            neighbor_view.filter(
                (F.col("cosine") >= UNIFIED_EMB_DUP_THRESHOLD)
                & (F.col("nn_id") < F.col("vec_id"))
            )
            .select(F.col("vec_id").alias("doc_id"))
        )
        return self.curated(spark).join(losers, "doc_id", "leftanti")

    def curated_span_filtered(self, spark: SparkSession, span_stats_view: DataFrame) -> DataFrame:
        """The curated corpus with the SPAN-LEVEL dedup signal composed in
        (round 12) — the RefinedWeb/MassiveText boilerplate drop: a
        document whose duplicated-span fraction exceeds
        SPAN_FLAG_THRESHOLD (``is_flagged`` in a
        :class:`~cdc_platform_spark.streaming.span_index.
        BucketedSpanIndexSink` ``span_stats`` view) is removed from the
        curated set.  Unlike the pairwise near-dup rule there is no
        canonical survivor — a span-flagged document is mostly material
        that exists elsewhere, so ALL flagged documents drop.  The
        flagged set is corpus-proportional at 100 TB, so no broadcast
        hint — AQE picks the strategy."""
        flagged = span_stats_view.filter(F.col("is_flagged") == 1).select("doc_id")
        return self.curated(spark).join(flagged, "doc_id", "leftanti")
