"""CLI mirroring the reference's command surface (reference cli.py):

    cdc-spark validate <pipeline.yaml>        (cli.py:42-71    `cdc validate`)
    cdc-spark consume <pipeline.yaml> [--limit N]
                                              (cli.py:141-165  `cdc consume`)
    cdc-spark health <pipeline.yaml>          (observability/health.py:45-180
                                               `cdc health` — dependency probes)
    cdc-spark run <pipeline.yaml>             (cli.py:168-192  `cdc run`)
    cdc-spark snapshots <table_root>          (cli.py:251-291  `cdc lakehouse snapshots`)
    cdc-spark query <table_root> [--snapshot-id N] [--limit N]
                                              (cli.py:294-325  `cdc lakehouse query`)
    cdc-spark rollback <table_root> <snapshot_id>
                                              (cli.py:328-365  `cdc lakehouse rollback`)
    cdc-spark compact <table_root> [--max-files N]
    cdc-spark expire <table_root> --older-than-ms N
    cdc-spark rewrite-sorted <table_root> --sort-by COL [--n-groups N]
    cdc-spark rewrite-zorder <table_root> --columns a,b [--n-groups N]

argparse instead of Typer (not in the container); same verbs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _collect_stable(build, fingerprint, attempts: int = 4):
    """Materialize a serving read under the check-read-recheck protocol.

    The read-only in-flight gates run when the DataFrame is BUILT, but
    Spark reads the underlying parquet lazily at collect time — a writer
    batch that starts after the gate can replace bucket dirs mid-collect
    (the residual window the markers alone cannot close).  The shared
    :func:`~cdc_platform_spark.streaming.serving.run_stable` brackets
    the collect with ``fingerprint()``: equal fingerprints prove no
    writer commit overlapped the read; a change — or a read error WITH
    a change, e.g. a FileNotFound from a swapped bucket — retries
    against the new committed state.  A read error with an UNCHANGED
    fingerprint is a real failure and propagates."""
    from cdc_platform_spark.streaming.serving import run_stable

    return run_stable(lambda: build().collect(), fingerprint, attempts=attempts)


def _serve_view(sink_cls, root: str, n_buckets: int, what: str, build) -> int:
    """The scaffold of the view serve verbs (span-, session-,
    hourly-stats): refuse a missing root (a typo'd path would otherwise
    read as an empty view), open the sink read-only, collect
    ``build(sink)`` under check-read-recheck, print JSON lines.  Exit 1
    for a missing root, 2 (retriable) while a writer is mid-commit."""
    from cdc_platform_spark.streaming.pipeline import StateInFlightError

    if not os.path.isdir(root):
        print(json.dumps({"error": f"no {what} state at {root}"}), file=sys.stderr)
        return 1
    sink = sink_cls(root, n_buckets=n_buckets, read_only=True)
    try:
        rows = _collect_stable(lambda: build(sink), sink.state_fingerprint)
    except StateInFlightError as exc:
        print(json.dumps({"error": str(exc), "retriable": True}), file=sys.stderr)
        return 2
    for row in rows:
        print(json.dumps(row.asDict(), default=str))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="cdc-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_run = sub.add_parser("run", help="run a pipeline from YAML (availableNow)")
    p_run.add_argument("config")
    p_run.add_argument("--platform-config", default=None)

    p_val = sub.add_parser("validate", help="validate a pipeline YAML and print the resolved config")
    p_val.add_argument("config")
    p_val.add_argument("--platform-config", default=None)

    p_cons = sub.add_parser("consume", help="decode and print events from the pipeline source")
    p_cons.add_argument("config")
    p_cons.add_argument("--limit", type=int, default=10)

    p_health = sub.add_parser(
        "health", help="probe pipeline dependencies (source, sinks, DLQ) without running"
    )
    p_health.add_argument("config")

    p_topics = sub.add_parser(
        "topics", help="print the CDC + DLQ topics this pipeline provisions (ref D1)"
    )
    p_topics.add_argument("config")

    p_snap = sub.add_parser("snapshots", help="list table snapshots")
    p_snap.add_argument("table_root")

    p_query = sub.add_parser("query", help="scan a table (optionally at a snapshot)")
    p_query.add_argument("table_root")
    p_query.add_argument("--snapshot-id", default=None)
    p_query.add_argument("--limit", type=int, default=20)

    p_roll = sub.add_parser("rollback", help="roll the table back to a snapshot")
    p_roll.add_argument("table_root")
    p_roll.add_argument("snapshot_id")

    p_comp = sub.add_parser("compact", help="compact small file groups")
    p_comp.add_argument("table_root")
    p_comp.add_argument("--max-files", type=int, default=4)

    p_exp = sub.add_parser("expire", help="expire old snapshots")
    p_exp.add_argument("table_root")
    p_exp.add_argument("--older-than-ms", type=int, required=True)

    p_sort = sub.add_parser("rewrite-sorted", help="sort-cluster the table for stats pruning")
    p_sort.add_argument("table_root")
    p_sort.add_argument("--sort-by", required=True)
    p_sort.add_argument("--n-groups", type=int, default=4)

    p_export = sub.add_parser(
        "export", help="materialize the curated corpus as token-budget training shards"
    )
    p_export.add_argument("--sf-dir", required=True, help="fixture directory (documents.parquet)")
    p_export.add_argument("--out", required=True, help="output root (parquet, partitioned by shard)")

    p_z = sub.add_parser("rewrite-zorder", help="z-order-cluster the table on multiple columns")
    p_z.add_argument("table_root")
    p_z.add_argument("--columns", required=True, help="comma-separated column list")
    p_z.add_argument("--n-groups", type=int, default=16)

    p_maint = sub.add_parser(
        "maintain",
        help="sweep streaming-state maintenance over a pipeline's sinks "
        "(compact stale rows/dead markers; with --tombstone-horizon, GC "
        "delete tombstones below the source's replay low-watermark)",
    )
    p_maint.add_argument("config")
    p_maint.add_argument("--platform-config", default=None)
    p_maint.add_argument(
        "--tombstone-horizon",
        type=int,
        default=None,
        help="the source's replay low-watermark: no event with offset below "
        "this will ever be (re)delivered — an operator assertion about the "
        "source (Kafka retention / CDC slot LSN), clamped below any offset "
        "still quarantined in the DLQ",
    )
    p_maint.add_argument(
        "--suggest-horizon-from",
        default=None,
        metavar="SINK_ID",
        help="derive the horizon from an append sink's applied table via "
        "the A1 min-watermark math (min over partitions of max applied "
        "offset + 1; valid for per-partition-ordered sources); abstains "
        "while the stream checkpoint shows an in-flight micro-batch (the "
        "applied table can be ahead of the checkpoint after a crash — "
        "restart and drain first) or when any partition's applied offsets "
        "are NULL; mutually exclusive with --tombstone-horizon",
    )
    p_maint.add_argument(
        "--n-partitions",
        type=int,
        default=None,
        help="with --suggest-horizon-from: the source's partition count — "
        "the suggestion abstains until every partition has flushed",
    )

    p_ann = sub.add_parser(
        "ann-search",
        help="serve top-k ANN from a maintained IVF-Flat index state dir "
        "(read-only; quantizer loaded from the generation's persisted "
        "<state>.quantizer artifacts)",
    )
    p_ann.add_argument(
        "index_root",
        help="a BucketedIvfFlatIndexSink state dir, or a generation-pointer "
        "root containing CURRENT (the blue/green rotation layout)",
    )
    p_ann.add_argument(
        "--queries",
        default=None,
        help="parquet of (vec_id, embedding array<float>) external queries; "
        "default: the corpus probe convention (index rows with small ids)",
    )
    p_ann.add_argument(
        "--pq-index",
        default=None,
        help="a BucketedIvfPqIndexSink state dir (or pointer root): serve "
        "IVF-ADC instead — candidates/scores from the PQ codes, full "
        "vectors from index_root only for the rerank survivors; the "
        "(centroids, codebooks, ranks) triple loads from the PQ "
        "generation's persisted quantizer",
    )
    p_ann.add_argument("--n-buckets", type=int, default=16)
    p_ann.add_argument("--limit", type=int, default=20)

    p_exc = sub.add_parser(
        "export-corpus",
        help="publish the curated (or decontaminated) training export as "
        "a lakehouse snapshot — prints the snapshot id a training run "
        "pins for reproducibility",
    )
    p_exc.add_argument("corpus_root", help="the CuratedCorpusSink state directory")
    p_exc.add_argument("table_root", help="the VersionedTable root to snapshot into")
    p_exc.add_argument("--n-buckets", type=int, default=16)
    p_exc.add_argument("--decontaminated", action="store_true")
    p_exc.add_argument(
        "--stop-gram-cap",
        type=int,
        default=None,
        help="with --decontaminated: ignore boilerplate grams (live-corpus "
        "doc frequency > cap) as leak evidence",
    )

    p_serve = sub.add_parser(
        "serve",
        help="run a serving read over a maintained curated-corpus state "
        "dir (the CuratedCorpusSink views a deployment queries between "
        "micro-batches)",
    )
    p_serve.add_argument(
        "view",
        choices=[
            "curated",
            "decontaminated",
            "contamination-report",
            "dedup-rate",
            "mix-sample",
            "mix-tokens",
            "shard-manifest",
            "export",
            "cluster-reps",
            "clusters",
            "pairs",
        ],
    )
    p_serve.add_argument("corpus_root", help="the CuratedCorpusSink state directory")
    p_serve.add_argument("--n-buckets", type=int, default=16)
    p_serve.add_argument(
        "--decontaminated",
        action="store_true",
        help="for mix-sample/mix-tokens/shard-manifest/export: draw from "
        "the decontaminated corpus",
    )
    p_serve.add_argument(
        "--stop-gram-cap",
        type=int,
        default=None,
        help="for decontaminated/contamination-report: ignore boilerplate "
        "grams (live-corpus doc frequency > cap) as leak evidence — the "
        "opt-in capped semantics of text_contamination_report_capped",
    )
    p_serve.add_argument("--limit", type=int, default=20)

    p_span = sub.add_parser(
        "span-stats",
        help="serve per-document duplicated-span statistics from a "
        "maintained BucketedSpanIndexSink state dir (read-only; "
        "retriable exit 2 mid-commit)",
    )
    p_span.add_argument("span_root", help="the BucketedSpanIndexSink state directory")
    p_span.add_argument("--n-buckets", type=int, default=16)
    p_span.add_argument(
        "--flagged-only",
        action="store_true",
        help="only documents over the shared-span flag threshold (the "
        "boilerplate/template-reuse suspects a curation pass drops)",
    )
    p_span.add_argument(
        "--doc-id",
        type=int,
        default=None,
        help="point lookup: serve one document's span stats via a "
        "single-bucket pruned read",
    )
    p_span.add_argument("--limit", type=int, default=20)

    p_sess = sub.add_parser(
        "session-stats",
        help="serve per-user session aggregates from a maintained "
        "BucketedSessionStatsSink state dir (read-only; retriable "
        "exit 2 mid-commit)",
    )
    p_sess.add_argument(
        "session_root", help="the BucketedSessionStatsSink state directory"
    )
    p_sess.add_argument("--n-buckets", type=int, default=16)
    p_sess.add_argument(
        "--user-id", type=int, default=None, help="only this user's sessions"
    )
    p_sess.add_argument("--limit", type=int, default=20)

    p_hr = sub.add_parser(
        "hourly-stats",
        help="serve (event_type, hour) aggregates from a maintained "
        "BucketedHourlyStatsSink state dir (read-only; retriable "
        "exit 2 mid-commit); --gapfill serves the dense LOCF grid",
    )
    p_hr.add_argument(
        "hourly_root", help="the BucketedHourlyStatsSink state directory"
    )
    p_hr.add_argument("--n-buckets", type=int, default=16)
    p_hr.add_argument(
        "--event-type", default=None, help="only this event type's hours"
    )
    p_hr.add_argument(
        "--gapfill",
        action="store_true",
        help="project onto the dense hour grid with LOCF (the read-time "
        "gapfill_locf_grid tail over the maintained aggregate)",
    )
    p_hr.add_argument("--limit", type=int, default=50)

    args = ap.parse_args(argv)

    if args.cmd == "validate":
        # pure front-end: parse + validate + print, no Spark session
        # (reference `cdc validate` semantics: exit non-zero on bad config)
        from pydantic import ValidationError

        from cdc_platform_spark.config import load_pipeline_config, load_platform_config

        import yaml

        try:
            cfg = load_pipeline_config(args.config)
            platform = load_platform_config(args.platform_config)
        except (ValidationError, KeyError, OSError, ValueError, yaml.YAMLError) as e:
            # ValueError: non-mapping top level; YAMLError: malformed YAML —
            # both must keep the JSON output contract, never a traceback
            print(json.dumps({"valid": False, "error": str(e)}))
            return 1
        print(json.dumps({"valid": True, "pipeline": cfg.model_dump(), "platform": platform.model_dump()}))
        return 0

    if args.cmd == "topics":
        # pure front-end like validate: the provisioning list a deployment
        # pre-creates (reference topics_for_pipeline), no Spark session
        from cdc_platform_spark.config import load_pipeline_config

        cfg = load_pipeline_config(args.config)
        print(json.dumps({"pipeline_id": cfg.pipeline_id, "topics": cfg.provisioned_topics()}))
        return 0

    from cdc_platform_spark.session import get_spark

    spark = get_spark(app_name=f"cdc-spark-{args.cmd}")

    if args.cmd == "run":
        from cdc_platform_spark.config import load_pipeline_config, load_platform_config
        from cdc_platform_spark.plans.compiler import compile_pipeline

        cfg = load_pipeline_config(args.config)
        platform = load_platform_config(args.platform_config)
        pipe = compile_pipeline(spark, cfg, platform)
        pipe.run_available_now()
        print(json.dumps({"pipeline_id": cfg.pipeline_id, "status": "completed"}))
        return 0

    if args.cmd == "maintain":
        from pyspark.sql import functions as F

        from cdc_platform_spark.config import load_pipeline_config, load_platform_config
        from cdc_platform_spark.plans.compiler import compile_pipeline
        from cdc_platform_spark.streaming.pipeline import suggest_tombstone_horizon

        cfg = load_pipeline_config(args.config)
        platform = load_platform_config(args.platform_config)
        pipe = compile_pipeline(spark, cfg, platform)
        horizon = args.tombstone_horizon
        if args.suggest_horizon_from is not None:
            if horizon is not None:
                raise SystemExit(
                    "--tombstone-horizon and --suggest-horizon-from are mutually exclusive"
                )
            src_sink = pipe.sinks[args.suggest_horizon_from]
            applied = spark.read.parquet(src_sink.path).select(
                F.col("_cdc_partition").alias("partition"),
                F.col("_cdc_offset").alias("offset"),
            )
            # checkpoint_dir fences the crash-mid-batch window: the append
            # table can be ahead of the stream checkpoint, and a horizon
            # counting the pending batch as applied would make every keyed
            # sink drop its replay (suggest_tombstone_horizon docstring)
            horizon = suggest_tombstone_horizon(
                applied,
                n_partitions=args.n_partitions,
                checkpoint_dir=pipe.checkpoint_dir,
            )
        if horizon is not None:
            pipe.tombstone_horizon_fn = lambda: horizon
        pipe.run_maintenance()
        stats = {
            sink_id: sink.state_stats(spark)
            for sink_id, sink in pipe.sinks.items()
            if hasattr(sink, "state_stats")
        }
        print(
            json.dumps(
                {"pipeline_id": cfg.pipeline_id, "horizon": horizon, "stats": stats}
            )
        )
        return 0

    if args.cmd == "health":
        # reference `cdc health` (observability/health.py:45-180): probe each
        # dependency, print the aggregate, exit non-zero when unhealthy
        from cdc_platform_spark.config import load_pipeline_config
        from cdc_platform_spark.observability import check_pipeline_health

        cfg = load_pipeline_config(args.config)
        report = check_pipeline_health(spark, cfg)
        print(json.dumps(report))
        return 0 if report["status"] == "healthy" else 1

    if args.cmd == "export":
        # the training-data write path: curation funnel -> shard assignment
        # (text_export_shards' plan) -> one parquet directory PER SHARD
        # (partitionBy), document text included, so a training job reads
        # consumable fixed-size token buckets. Shard count scales with
        # corpus tokens; each output task writes only its own shard
        # partitions.
        from pyspark.sql import functions as F

        from cdc_platform_spark.operators.text import curated_packed_docs
        from cdc_platform_spark.sources.registry import load_table

        assignments = curated_packed_docs(spark, args.sf_dir)
        docs = load_table(spark, "documents", args.sf_dir).select("doc_id", "text")
        assignments.join(docs, "doc_id").write.mode("overwrite").partitionBy(
            "shard_id"
        ).parquet(args.out)
        # manifest aggregates the WRITTEN shards (not a funnel re-run, so it
        # describes exactly what landed on disk); written distributed, the
        # driver prints only a bounded sample (at 100 TB the manifest has
        # millions of rows)
        manifest = (
            spark.read.parquet(args.out)
            .groupBy("shard_id")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("total_tokens"),
                F.min("doc_id").alias("first_doc_id"),
                F.max("doc_id").alias("last_doc_id"),
            )
            .orderBy("shard_id")
        )
        manifest.write.mode("overwrite").parquet(f"{args.out}_manifest")
        written_manifest = spark.read.parquet(f"{args.out}_manifest")
        n_shards = written_manifest.count()
        sample = [
            r.asDict() for r in written_manifest.orderBy("shard_id").limit(50).collect()
        ]
        print(json.dumps({"shards": n_shards, "manifest": sample}, default=str))
        return 0

    if args.cmd == "consume":
        # decode + print the head of the source stream (reference `cdc
        # consume`: subscribe and print events as they arrive; batch
        # equivalent here — same envelope the sinks see)
        from cdc_platform_spark.config import load_pipeline_config
        from cdc_platform_spark.streaming.pipeline import EVENTS_SCHEMA, to_envelope

        cfg = load_pipeline_config(args.config)
        if cfg.source.path is None:
            # kafka sources have no batch path to print from — a clear
            # message instead of an opaque py4j traceback on parquet(None)
            print(
                json.dumps(
                    {
                        "error": f"consume supports file sources only; "
                        f"source.type={cfg.source.type!r} has no path"
                    }
                )
            )
            return 1
        batch = spark.read.schema(cfg.source.schema_ddl or EVENTS_SCHEMA).parquet(cfg.source.path)
        for row in to_envelope(batch).orderBy("partition", "offset").limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str))
        return 0

    if args.cmd == "ann-search":
        from pyspark.sql import functions as F

        from cdc_platform_spark.operators.dedup import fixed_point
        from cdc_platform_spark.streaming.ann_index import (
            BucketedIvfFlatIndexSink,
            BucketedIvfPqIndexSink,
            ivf_pq_search_from_index,
            ivf_search_from_index,
            load_quantizer,
        )
        from cdc_platform_spark.streaming.pipeline import StateInFlightError
        from cdc_platform_spark.streaming.serving import fs_fingerprint

        def resolve_generation(root: str) -> str | None:
            """A state dir, or a pointer root whose CURRENT names one —
            read directly (IndexGenerationPointer's constructor mkdirs,
            which a serving process must not)."""
            ptr = f"{root}/CURRENT"
            if os.path.isfile(ptr):
                with open(ptr) as fh:
                    root = fh.read().strip()
            return root if root and os.path.isdir(root) else None

        vec_root = resolve_generation(args.index_root)
        if vec_root is None:
            print(
                json.dumps({"error": f"no index state at {args.index_root}"}),
                file=sys.stderr,
            )
            return 1
        try:
            probes = None
            if args.queries:
                if not os.path.exists(args.queries):
                    print(
                        json.dumps({"error": f"no query parquet at {args.queries}"}),
                        file=sys.stderr,
                    )
                    return 1
                probes = spark.read.parquet(args.queries).select(
                    F.col("vec_id").alias("qid"),
                    fixed_point(F.col("embedding")).alias("qa"),
                )
            # The quantizer and sinks must be (re)loaded INSIDE the
            # per-attempt closure: a live-root quantizer swap mid-read
            # flips the fingerprint and retries, and the retry must probe
            # the NEW index with the NEW centroids/codebooks — anything
            # captured from a previous attempt (an eagerly checkpointed
            # centroid table, a sink holding it) would make run_stable
            # converge on a new-index/old-quantizer mix and return
            # silently wrong neighbors once the writer idles.  The
            # fingerprint is therefore computed from the state PATHS
            # directly (same roots the sinks' state_fingerprint covers:
            # state dir + .work sibling + .quantizer sibling), not from
            # sink objects that would pin one attempt's load.
            if args.pq_index:
                pq_root = resolve_generation(args.pq_index)
                if pq_root is None:
                    print(
                        json.dumps({"error": f"no index state at {args.pq_index}"}),
                        file=sys.stderr,
                    )
                    return 1
                # artifact-shape validation once upfront: codebooks/ranks
                # presence is a property of the generation, not an attempt
                _, cb0, rk0 = load_quantizer(spark, pq_root)
                if cb0 is None or rk0 is None:
                    print(
                        json.dumps(
                            {"error": f"{pq_root}: quantizer lacks codebooks/ranks"}
                        ),
                        file=sys.stderr,
                    )
                    return 1
                fp_roots = [
                    p
                    for root in (pq_root, vec_root)
                    for p in (root, f"{root}.work", f"{root}.quantizer")
                ]

                def build_search():
                    cents, cb, rk = load_quantizer(spark, pq_root)
                    pq = BucketedIvfPqIndexSink(
                        pq_root, cents, cb, rk, n_buckets=args.n_buckets, read_only=True
                    )
                    vec = BucketedIvfFlatIndexSink(
                        vec_root, cents, n_buckets=args.n_buckets, read_only=True
                    )
                    return ivf_pq_search_from_index(
                        pq.state(spark), vec.state(spark), cents, cb, rk, probes=probes
                    )

            else:
                fp_roots = [vec_root, f"{vec_root}.work", f"{vec_root}.quantizer"]

                def build_search():
                    cents, _, _ = load_quantizer(spark, vec_root)
                    sink = BucketedIvfFlatIndexSink(
                        vec_root, cents, n_buckets=args.n_buckets, read_only=True
                    )
                    return ivf_search_from_index(sink.state(spark), cents, probes=probes)

            # a pinned generation (CURRENT pointer) is immutable and the
            # bracket never moves; a LIVE root gets the same
            # check-read-recheck the corpus serve does
            rows = _collect_stable(
                lambda: build_search().orderBy("query_id", "rank").limit(args.limit),
                lambda: fs_fingerprint(fp_roots),
            )
        except FileNotFoundError as exc:
            print(json.dumps({"error": str(exc)}), file=sys.stderr)
            return 1
        except StateInFlightError as exc:
            print(json.dumps({"error": str(exc), "retriable": True}), file=sys.stderr)
            return 2
        for row in rows:
            print(json.dumps(row.asDict(), default=str))
        return 0

    if args.cmd == "export-corpus":
        from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink
        from cdc_platform_spark.streaming.pipeline import StateInFlightError

        if not os.path.isdir(args.corpus_root):
            print(
                json.dumps({"error": f"no corpus state at {args.corpus_root}"}),
                file=sys.stderr,
            )
            return 1
        if args.stop_gram_cap is not None and not args.decontaminated:
            print(
                json.dumps(
                    {"error": "--stop-gram-cap requires --decontaminated"}
                ),
                file=sys.stderr,
            )
            return 1
        # the corpus is only READ (read_only sink); the write goes to the
        # lakehouse table, which owns its own transactional commit
        sink = CuratedCorpusSink(
            args.corpus_root, n_buckets=args.n_buckets, read_only=True
        )
        try:
            sid = sink.export_to_table(
                spark,
                args.table_root,
                decontaminated=args.decontaminated,
                stop_gram_cap=args.stop_gram_cap,
            )
        except StateInFlightError as exc:
            print(json.dumps({"error": str(exc), "retriable": True}), file=sys.stderr)
            return 2
        print(json.dumps({"snapshot": sid}))
        return 0

    if args.cmd == "span-stats":
        from pyspark.sql import functions as F

        from cdc_platform_spark.streaming.span_index import BucketedSpanIndexSink

        def build_stats(sink):
            # --doc-id is a bucket-pruned POINT serve inside the sink
            # (single-bucket file listing), not a full-scan-then-filter
            df = sink.span_stats(spark, args.doc_id)
            if args.flagged_only:
                df = df.filter(F.col("is_flagged") == 1)
            return df.orderBy(F.col("shared_fraction").desc(), "doc_id").limit(
                args.limit
            )

        return _serve_view(
            BucketedSpanIndexSink, args.span_root, args.n_buckets, "span index", build_stats
        )

    if args.cmd == "session-stats":
        from pyspark.sql import functions as F

        from cdc_platform_spark.streaming.session_index import (
            BucketedSessionStatsSink,
        )

        def build_sessions(sink):
            # --user-id is a bucket-pruned POINT serve inside the sink
            # (single-bucket file listing), not a full-scan-then-filter
            df = sink.session_stats(spark, args.user_id)
            return df.orderBy(
                F.col("n_events").desc(), "user_id", "session_start_us"
            ).limit(args.limit)

        return _serve_view(
            BucketedSessionStatsSink,
            args.session_root,
            args.n_buckets,
            "session index",
            build_sessions,
        )

    if args.cmd == "hourly-stats":
        from pyspark.sql import functions as F

        from cdc_platform_spark.operators.windows import gapfill_locf_grid
        from cdc_platform_spark.streaming.hourly_index import (
            BucketedHourlyStatsSink,
        )

        def build_hourly(sink):
            df = sink.hourly_stats(spark)
            if args.gapfill:
                # the read-time tail over the maintained aggregate —
                # bounded by grid size, never event count; applied BEFORE
                # the --event-type filter so LOCF still carries values
                # across the full grid exactly as the batch operator does
                df = gapfill_locf_grid(df).withColumnRenamed("hour_start", "hour_s")
            if args.event_type is not None:
                df = df.filter(F.col("event_type") == args.event_type)
            return df.orderBy("event_type", "hour_s").limit(args.limit)

        return _serve_view(
            BucketedHourlyStatsSink,
            args.hourly_root,
            args.n_buckets,
            "hourly index",
            build_hourly,
        )

    if args.cmd == "serve":
        from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink
        from cdc_platform_spark.streaming.pipeline import StateInFlightError

        # a serve must never mutate state: read_only below disarms every
        # recovery mutation (tmp sweeps, snapshot restores, journal
        # resolution — those renames belong to the writer process and a
        # concurrent serve performing them could fail the writer's
        # in-flight micro-batch); this isdir guard additionally catches a
        # typo'd path, which would otherwise read as an empty corpus
        if not os.path.isdir(args.corpus_root):
            print(
                json.dumps({"error": f"no corpus state at {args.corpus_root}"}),
                file=sys.stderr,
            )
            return 1
        sink = CuratedCorpusSink(
            args.corpus_root, n_buckets=args.n_buckets, read_only=True
        )
        cap = args.stop_gram_cap
        # One definition of "this view reads the decontamination stores",
        # shared by the --stop-gram-cap validity check AND the fingerprint
        # scope below: the two taxonomies must never diverge (a view added
        # to one list but not the other would silently serve with a
        # fingerprint narrower than the state it reads).
        decon_optional = ("mix-sample", "mix-tokens", "shard-manifest", "export")
        decon_read = args.view in ("decontaminated", "contamination-report") or (
            args.view in decon_optional and args.decontaminated
        )
        # --stop-gram-cap must never be silently ignored: it applies to
        # the decontamination-consulting reads only (and to the derived
        # views only when they actually draw from the decontaminated
        # corpus) — a flag that changes WHICH documents ship must error
        # loudly when it cannot take effect
        if cap is not None and not decon_read:
            print(
                json.dumps(
                    {
                        "error": f"--stop-gram-cap has no effect on "
                        f"'{args.view}'"
                        + (
                            " without --decontaminated"
                            if args.view in decon_optional
                            else ""
                        )
                    }
                ),
                file=sys.stderr,
            )
            return 1
        reads = {
            "curated": lambda: sink.curated(spark),
            "decontaminated": lambda: sink.decontaminated(spark, stop_gram_cap=cap),
            "contamination-report": lambda: sink.contamination_report(
                spark, stop_gram_cap=cap
            ),
            "dedup-rate": lambda: sink.dedup_rate_by_domain(spark),
            "mix-sample": lambda: sink.mix_sample(
                spark, decontaminated=args.decontaminated, stop_gram_cap=cap
            ),
            "mix-tokens": lambda: sink.mix_sample_tokens(
                spark, decontaminated=args.decontaminated, stop_gram_cap=cap
            ),
            "shard-manifest": lambda: sink.shard_manifest(
                spark, decontaminated=args.decontaminated, stop_gram_cap=cap
            ),
            "export": lambda: sink.export_docs(
                spark, decontaminated=args.decontaminated, stop_gram_cap=cap
            ),
            "cluster-reps": lambda: sink.cluster_representatives(spark),
            "clusters": lambda: sink.clusters(spark),
            "pairs": lambda: sink.pairs(spark),
        }
        # fingerprint only the stores this view reads: a curated-family
        # serve must not retry (or exhaust) on decon-maintenance commits
        # it never consults — same decon_read predicate as the cap check
        fp_scope = "all" if decon_read else "text"
        try:
            rows = _collect_stable(
                lambda: reads[args.view]().limit(args.limit),
                lambda: sink.state_fingerprint(fp_scope),
            )
        except StateInFlightError as exc:
            # the writer is mid-commit: retriable, and distinct from a
            # wrong-path/empty-corpus failure
            print(json.dumps({"error": str(exc), "retriable": True}), file=sys.stderr)
            return 2
        for row in rows:
            print(json.dumps(row.asDict(), default=str))
        return 0

    from cdc_platform_spark.lakehouse.table import VersionedTable

    table = VersionedTable(spark, args.table_root)
    if args.cmd == "snapshots":
        for s in table.snapshots():
            print(json.dumps(s))
    elif args.cmd == "query":
        df = table.read(snapshot_id=args.snapshot_id)
        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str))
    elif args.cmd == "rollback":
        table.rollback(args.snapshot_id)
        print(json.dumps({"head": table.current_snapshot_id()}))
    elif args.cmd == "compact":
        sid = table.compact(max_files=args.max_files)
        print(json.dumps({"rewrote": sid}))
    elif args.cmd == "expire":
        n = table.expire_snapshots(older_than_ms=args.older_than_ms)
        print(json.dumps({"expired": n}))
    elif args.cmd == "rewrite-sorted":
        sid = table.rewrite_sorted(args.sort_by, n_groups=args.n_groups)
        print(json.dumps({"rewrote": sid}))
    elif args.cmd == "rewrite-zorder":
        sid = table.rewrite_zorder(args.columns.split(","), n_groups=args.n_groups)
        print(json.dumps({"rewrote": sid}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
