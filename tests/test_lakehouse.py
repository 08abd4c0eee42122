"""Lakehouse table semantics (ref L1-L6): snapshots accumulate, time travel
returns point-in-time rows, rollback, expiry, distributed compaction —
the same scenario shape as the reference's lakehouse E2E test
(tests/integration/test_lakehouse_e2e.py:20-100)."""

from __future__ import annotations

import time

import pytest

from cdc_platform_spark.lakehouse.table import VersionedTable


@pytest.fixture()
def table(spark, tmp_path):
    return VersionedTable(spark, str(tmp_path / "tbl"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_snapshots_accumulate_and_time_travel(spark, table):
    s1 = table.append(_df(spark, 0, 10))
    s2 = table.append(_df(spark, 10, 30))
    s3 = table.overwrite(_df(spark, 0, 5))
    snaps = table.snapshots()
    assert [s["op"] for s in snaps] == ["append", "append", "overwrite"]
    assert [s["rows"] for s in snaps] == [10, 30, 5]
    # HEAD reads the overwrite; point-in-time reads see history (L5)
    assert table.read().count() == 5
    assert table.read(snapshot_id=s1).count() == 10
    assert table.read(snapshot_id=s2).count() == 30
    assert table.current_snapshot_id() == s3
    # metadata-only planning surface (Iceberg tbl.snapshots shape)
    meta = table.snapshots_df()
    assert meta.count() == 3
    assert {"snapshot_id", "operation", "n_files", "n_rows"} <= set(meta.columns)


def test_rollback(spark, table):
    s1 = table.append(_df(spark, 0, 10))
    table.overwrite(_df(spark, 0, 2))
    table.rollback(s1)
    assert table.read().count() == 10
    with pytest.raises(KeyError):
        table.rollback("nonexistent")


def test_expire_snapshots_keeps_head_and_gc_files(spark, table):
    table.append(_df(spark, 0, 10))
    table.overwrite(_df(spark, 0, 3))
    cutoff = int(time.time() * 1000) + 10_000  # everything is "old"
    expired = table.expire_snapshots(older_than_ms=cutoff)
    assert expired == 1  # HEAD survives even though it is old
    assert table.read().count() == 3
    assert len(table.snapshots()) == 1


def test_compaction_rewrites_many_groups(spark, table):
    for i in range(6):
        table.append(_df(spark, i * 10, (i + 1) * 10))
    before = table._snapshot(table.current_snapshot_id())
    assert len(before["files"]) == 6
    sid = table.compact(max_files=4)
    assert sid is not None
    after = table._snapshot(table.current_snapshot_id())
    assert len(after["files"]) == 1
    assert table.read().count() == 60  # logical rows preserved
    # second compact is a metadata-only no-op
    assert table.compact(max_files=4) is None


def test_stats_pruned_scan(spark, table):
    # three disjoint id ranges -> three file groups with disjoint stats
    table.append(_df(spark, 0, 100))
    table.append(_df(spark, 100, 200))
    table.append(_df(spark, 200, 300))
    out = table.read_where("id", ">=", 250)
    assert out.count() == 50
    kept, total = table.last_scan_files
    assert (kept, total) == (1, 3), "manifest stats should have pruned 2 of 3 groups"
    # equality probe in the middle group
    assert table.read_where("id", "=", 150).count() == 1
    assert table.last_scan_files == (1, 3)
    # predicate matching nothing prunes everything
    assert table.read_where("id", ">", 10_000).count() == 0
    # stats survive the JSON manifest roundtrip on a fresh handle
    from cdc_platform_spark.lakehouse.table import VersionedTable

    fresh = VersionedTable(spark, table.root)
    assert fresh.read_where("id", "<", 100).count() == 100
    assert fresh.last_scan_files == (1, 3)


def test_partitioned_append_and_per_partition_compaction(spark, table):
    from pyspark.sql import functions as F

    # 5 appends, each writing partitions A and B -> 10 file groups
    for i in range(5):
        df = spark.range(i * 10, (i + 1) * 10).select(
            "id", F.when(F.col("id") % 2 == 0, "A").otherwise("B").alias("part")
        )
        table.append(df, partition_by="part")
    snap = table._snapshot(table.current_snapshot_id())
    assert len(snap["files"]) == 10
    # compact only partition A: 5 groups -> 1; partition B untouched
    sid = table.compact_partition("part", "A", max_files=2)
    assert sid is not None
    snap2 = table._snapshot(table.current_snapshot_id())
    assert len(snap2["files"]) == 6  # 5 B-groups + 1 rewritten A-group
    assert table.read().count() == 50
    assert table.read().filter("part = 'A'").count() == 25
    # below threshold -> metadata-only no-op
    assert table.compact_partition("part", "A", max_files=2) is None


def test_snapshot_diff_change_feed(spark, table):
    from pyspark.sql import functions as F

    s1 = table.append(_df(spark, 0, 10))
    # next version: drop ids < 3, add 10..15 (overwrite with the new state)
    s2 = table.overwrite(
        _df(spark, 3, 16)
    )
    changes = table.diff(s1, s2).toPandas()
    added = sorted(changes[changes._change == "+"]["id"])
    removed = sorted(changes[changes._change == "-"]["id"])
    assert added == [10, 11, 12, 13, 14, 15]
    assert removed == [0, 1, 2]
    # no-op diff is empty
    assert table.diff(s2, s2).count() == 0


def test_additive_schema_evolution(spark, table):
    """Reference Iceberg sink auto-evolves on added columns (README.md:478-486);
    incompatible type changes error instead of corrupting the table."""
    from pyspark.sql import functions as F

    base = spark.range(5).select(F.col("id"), F.lit("a").alias("v"))
    s1 = table.append(base)

    evolved = spark.range(5, 8).select(
        F.col("id"), F.lit("b").alias("v"), F.lit(1.5).alias("score")
    )
    s2 = table.append(evolved)

    head = table.read()
    assert set(head.columns) == {"id", "v", "score"}
    assert head.count() == 8
    # pre-evolution rows read the new column as null
    assert head.filter("score IS NULL").count() == 5
    # old snapshot still reads with the old schema
    assert set(table.read(snapshot_id=s1).columns) == {"id", "v"}

    # a batch missing a column is fine (nulled in)...
    table.append(spark.range(8, 9).select(F.col("id")))
    assert table.read().filter("v IS NULL").count() == 1
    # ...but a type conflict on an existing column refuses the append
    bad = spark.range(9, 10).select(F.col("id"), F.col("id").cast("double").alias("v"))
    with pytest.raises(ValueError, match="incompatible schema evolution"):
        table.append(bad)

    # diff across the evolution boundary aligns schemas instead of failing
    changes = table.diff(s1, s2)
    assert changes.filter("_change = '+'").count() == 3
    assert changes.filter("_change = '-'").count() == 0


def test_sorted_rewrite_enables_pruning(spark, table):
    """rewrite_sorted clusters the table on the sort column into disjoint
    [min, max] ranges; read_where then prunes every non-matching group
    (metadata-only), where the unsorted layout could prune nothing."""
    import pyspark.sql.functions as F

    # 4 appends with interleaved key ranges -> every group spans ~the full range
    for i in range(4):
        table.append(spark.range(i, 4000, 4).select(F.col("id"), (F.col("id") % 7).alias("v")))
    # every group overlaps the probe range: zero pruning possible
    assert table.read_where("id", "=", 1234).count() == 1

    sid = table.rewrite_sorted("id", n_groups=4)
    assert sid is not None
    snap = table._snapshot(sid)
    assert len(snap["files"]) == 4 and snap["rows"] == 4000
    # ranges are disjoint
    ranges = sorted(
        (s["id"]["min"], s["id"]["max"]) for s in snap["stats"].values()
    )
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
    # point probe touches exactly one group after clustering
    probed = [
        g for g, s in snap["stats"].items()
        if s["id"]["min"] <= 1234 <= s["id"]["max"]
    ]
    assert len(probed) == 1
    assert table.read_where("id", "=", 1234).count() == 1
    assert table.read().count() == 4000


def test_zorder_rewrite_prunes_on_both_dimensions(spark, table):
    """Z-order clustering gives tight min/max on EVERY z-ordered column:
    a point probe on either dimension must prune most file groups, which
    single-column sorting cannot do for the second column."""
    import pyspark.sql.functions as F

    # x uniform 0..4095; y decorrelated from x (bit-reversed-ish ordering)
    df = spark.range(4096).select(
        F.col("id").alias("x"),
        F.pmod(F.col("id") * F.lit(2654435761), F.lit(4096)).alias("y"),
    )
    table.append(df)
    sid = table.rewrite_zorder(["x", "y"], n_groups=16)
    assert sid is not None
    snap = table._snapshot(sid)
    assert snap["rows"] == 4096

    assert table.read_where("x", "=", 2000).count() == 1
    kept_x, total = table.last_scan_files
    assert table.read_where("y", "=", 2000).count() == 1
    kept_y, _ = table.last_scan_files
    assert total == len(snap["files"])
    # both dimensions prune: a z-curve over 2 dims with 16 groups leaves
    # ~sqrt(16)=4 candidate groups per point probe; allow slack but require
    # real elimination on BOTH columns
    assert kept_x <= total // 2, (kept_x, total)
    assert kept_y <= total // 2, (kept_y, total)

def test_rewrite_sorted_keeps_null_sort_keys(spark, table):
    """Regression: range conditions evaluate NULL for null sort keys, so
    without explicit routing they'd match no group and vanish from the
    rewritten snapshot (silent data loss in a maintenance op)."""
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (4, 40.0)], "id long, v double"
    )
    table.append(df)
    table.rewrite_sorted("v", n_groups=2)
    got = table.read()
    assert got.count() == 4
    assert got.filter("v IS NULL").count() == 1


def test_partitioned_append_keeps_null_partition_rows(spark, table):
    """Regression: `col == None` is a NULL predicate -> null-partition rows
    were written to no group while the commit still succeeded."""
    df = spark.createDataFrame([(1, "a"), (2, None), (3, "b")], "id long, p string")
    table.append(df, partition_by="p")
    assert table.read().count() == 3
    assert table.read().filter("p IS NULL").count() == 1


def test_commit_seq_monotonic_after_expiry(spark, table):
    """Regression: seq derived from len(files) reused a prefix taken by a
    surviving snapshot after expiry, breaking oldest-first ordering."""
    table.append(_df(spark, 0, 10))
    table.append(_df(spark, 10, 20))
    table.overwrite(_df(spark, 0, 3))
    cutoff = int(time.time() * 1000) + 10_000
    table.expire_snapshots(older_than_ms=cutoff)  # only HEAD (seq 2) survives
    s_new = table.append(_df(spark, 0, 5))
    snaps = table.snapshots()
    assert [s["op"] for s in snaps] == ["overwrite", "append"]
    assert snaps[-1]["id"] == s_new
    assert table.read().count() == 8


def test_table_format_seam(spark, tmp_path):
    """Backend seam: VersionedTable fulfills the TableFormat contract,
    open_table dispatches parquet roots to it, and the Iceberg backend is
    explicitly gated (clear error, not a silent stub) in this environment."""
    from cdc_platform_spark.lakehouse import TableFormat, VersionedTable, open_table

    t = open_table(spark, str(tmp_path / "t"))
    assert isinstance(t, VersionedTable)
    assert isinstance(t, TableFormat)
    t.append(_df(spark, 0, 5))
    assert t.read().count() == 5

    from cdc_platform_spark.lakehouse.iceberg import iceberg_available

    if not iceberg_available(spark):
        with pytest.raises(RuntimeError, match="Iceberg backend requires"):
            open_table(spark, "iceberg://cat.db.tbl")


def test_zorder_annotate_plan_is_scan_shaped(spark):
    """The z-value derivation must be expression-only (verdict r11: the old
    global-ntile bucketing was one single-partition sort of the whole table
    per z column).  Approx-percentile boundaries are a sketch aggregate at
    annotate time; the annotated plan itself must contain NO window, NO
    sort, NO exchange — an embarrassingly-parallel scan+project whose cost
    scales with partition count."""
    import pyspark.sql.functions as F

    df = spark.range(4096).select(
        F.col("id").alias("x"),
        F.pmod(F.col("id") * F.lit(2654435761), F.lit(4096)).alias("y"),
    )
    z = VersionedTable._zorder_annotate(df, ["x", "y"], bits=4)
    plan = z._jdf.queryExecution().executedPlan().toString()
    for node in ("Window", "Sort", "Exchange"):
        assert node not in plan, f"{node} in z-annotate plan:\n{plan}"
    # and the z-values actually cluster: both dims bucketed, interleaved
    assert z.select("__z").distinct().count() > 16


def test_rewrite_zorder_conserves_rows_with_nulls(spark, table):
    """Same conservation guarantee as rewrite_sorted: a z-order rewrite must
    keep every committed row (NULL keys bucket to 0, and the commit
    asserts the total)."""
    df = spark.createDataFrame(
        [(1, 10.0, 5), (2, None, 6), (3, 30.0, None), (4, 40.0, 8)],
        "id long, v double, w long",
    )
    table.append(df)
    table.rewrite_zorder(["v", "w"], n_groups=2)
    got = table.read()
    assert got.count() == 4
    assert got.filter("v IS NULL").count() == 1
    assert got.filter("w IS NULL").count() == 1


def test_rewrite_sorted_all_null_sort_column(spark, table):
    """Degenerate but legal: an entirely-NULL sort column rewrites as a
    single group (no duplication, no aborted commit)."""
    df = spark.createDataFrame([(1, None), (2, None), (3, None)], "id long, v double")
    table.append(df)
    table.rewrite_sorted("v", n_groups=4)
    assert table.read().count() == 3


def test_rewrite_sorted_rejects_non_numeric_sort_key(spark, table):
    """ADVICE r12: cast(string as double) yields all-NULLs, silently
    collapsing the clustering into one garbled group where the old exact
    path failed loudly — the guard must fail loudly instead."""
    df = spark.createDataFrame([(1, "b"), (2, "a")], "id long, k string")
    table.append(df)
    with pytest.raises(TypeError, match="rewrite_sorted"):
        table.rewrite_sorted("k", n_groups=2)
    # numeric keys unaffected
    assert table.rewrite_sorted("id", n_groups=2) is not None
    assert table.read().count() == 2


def test_rewrite_zorder_rejects_non_numeric_column(spark, table):
    """Same guard for the z-curve: a string z-column would bucket every
    row to 0 and silently drop that dimension from the curve."""
    df = spark.createDataFrame([(1, 2, "x"), (3, 4, "y")], "a long, b long, k string")
    table.append(df)
    with pytest.raises(TypeError, match="rewrite_zorder"):
        table.rewrite_zorder(["a", "k"], n_groups=2)
    assert table.rewrite_zorder(["a", "b"], n_groups=2) is not None
    assert table.read().count() == 2


def test_iceberg_session_config_recipe(spark):
    """The documented flip-on recipe must agree with what IcebergTable
    actually consumes: the catalog key names SparkCatalog, and the catalog
    prefix of an iceberg:// identifier is what the CALL statements target."""
    from cdc_platform_spark.lakehouse.iceberg import (
        ICEBERG_RUNTIME_COORDS,
        iceberg_session_config,
    )

    cfg = iceberg_session_config(
        catalog="lake", warehouse="s3://b/wh", catalog_type="rest", uri="http://r:8181"
    )
    assert cfg["spark.jars.packages"] == ICEBERG_RUNTIME_COORDS
    assert cfg["spark.sql.catalog.lake"] == "org.apache.iceberg.spark.SparkCatalog"
    assert cfg["spark.sql.catalog.lake.type"] == "rest"
    assert cfg["spark.sql.catalog.lake.uri"] == "http://r:8181"
    assert "IcebergSparkSessionExtensions" in cfg["spark.sql.extensions"]
    # hadoop catalogs are warehouse-only
    assert "spark.sql.catalog.fs.uri" not in iceberg_session_config(
        catalog="fs", warehouse="/data/wh", catalog_type="hadoop"
    )


def test_compaction_preserves_evolved_columns(spark, table):
    """Compacting after additive evolution must carry the added column —
    without mergeSchema the rewrite adopted one group's schema and
    silently dropped the other's columns from the table forever
    (LakehouseAppendSink auto-compacts, so the pipeline hit this alone)."""
    table.append(spark.range(0, 10).selectExpr("id"))
    table.append(spark.range(10, 20).selectExpr("id", "id * 2 AS extra"))
    table.append(spark.range(20, 30).selectExpr("id", "id * 2 AS extra"))
    assert table.compact(max_files=2) is not None
    got = table.read()
    assert set(got.columns) == {"id", "extra"}
    rows = {r.id: r.extra for r in got.collect()}
    assert len(rows) == 30
    assert rows[15] == 30 and rows[5] is None  # pre-evolution rows null-fill


def test_read_where_on_evolved_column(spark, table):
    """Stats-pruned scans must resolve columns added by evolution: the
    pre-evolution groups always survive pruning (no stats for the new
    column), and without mergeSchema the scan crashed UNRESOLVED_COLUMN."""
    table.append(spark.range(0, 10).selectExpr("id"))
    table.append(spark.range(10, 20).selectExpr("id", "id * 2 AS extra"))
    got = table.read_where("extra", ">=", 30).collect()
    assert sorted(r.id for r in got) == list(range(15, 20))


def test_read_where_string_values_with_quotes(spark, table):
    """The residual filter takes values through the literal API — repr'd
    SQL broke on quote-containing strings."""
    df = spark.createDataFrame([(1, "it's \"x\""), (2, "plain")], "id long, name string")
    table.append(df)
    got = table.read_where("name", "=", "it's \"x\"").collect()
    assert [r.id for r in got] == [1]


def test_snapshots_df_with_zero_and_one_snapshot(spark, table):
    """Explicit schema: a single snapshot (parent_id None on every row) or
    an empty table made createDataFrame's type inference fail."""
    assert table.snapshots_df().count() == 0
    table.append(spark.range(0, 5).selectExpr("id"))
    df = table.snapshots_df()
    assert df.count() == 1
    assert df.collect()[0].parent_id is None


def test_orphaned_tmp_manifest_is_ignored(spark, table):
    """A crash between the manifest .tmp write and its rename must not
    wedge the table: only committed *.json manifests are parsed."""
    table.append(spark.range(0, 5).selectExpr("id"))
    with open(f"{table.root}/snapshots/000009-deadbeef.json.tmp", "w") as f:
        f.write('{"partial":')  # truncated JSON
    assert len(table.snapshots()) == 1
    table.append(spark.range(5, 10).selectExpr("id"))  # commit still works
    assert table.read().count() == 10


def test_expire_gc_with_differently_spelled_root(spark, tmp_path):
    """GC compares real paths: a maintenance handle opened via a
    non-canonical spelling of the same root must not delete live data."""
    root = str(tmp_path / "tbl")
    writer = VersionedTable(spark, root)
    writer.append(spark.range(0, 5).selectExpr("id"))
    time.sleep(0.01)
    writer.append(spark.range(5, 10).selectExpr("id"))
    alias = str(tmp_path / "." / "tbl")  # same dir, different spelling
    maint = VersionedTable(spark, alias)
    cutoff = maint._snapshot(maint.current_snapshot_id())["ts_ms"]
    maint.expire_snapshots(cutoff)
    assert writer.read().count() == 10  # live groups survived the GC


def test_discard_snapshot_uncommits_leaf(spark, table):
    """discard_snapshot removes a never-published leaf: manifest gone,
    HEAD back on the parent, and the leaf's unshared file groups GC'd —
    while groups the parent still references survive an appended-leaf
    discard."""
    import os

    s1 = table.append(_df(spark, 0, 10))
    s2 = table.overwrite(_df(spark, 0, 3))
    g2 = table._snapshot(s2)["files"]
    table.discard_snapshot(s2)
    assert table.current_snapshot_id() == s1
    assert [s["id"] for s in table.snapshots()] == [s1]
    assert table.read().count() == 10
    assert all(not os.path.exists(g) for g in g2)
    # an append's file list INCLUDES the parent's groups: discarding the
    # append leaf must not GC what the parent still references
    s3 = table.append(_df(spark, 10, 20))
    table.discard_snapshot(s3)
    assert table.read().count() == 10


def test_discard_snapshot_first_commit_clears_head(spark, table):
    s1 = table.overwrite(_df(spark, 0, 5))
    table.discard_snapshot(s1)
    assert table.current_snapshot_id() is None
    assert table.snapshots() == []
    with pytest.raises(ValueError, match="empty"):
        table.read()
    # the table stays writable after a full un-commit
    s2 = table.overwrite(_df(spark, 0, 7))
    assert table.read().count() == 7
    assert table.current_snapshot_id() == s2


def test_discard_snapshot_refuses_non_leaf_and_unknown(spark, table):
    s1 = table.append(_df(spark, 0, 10))
    table.overwrite(_df(spark, 0, 3))
    with pytest.raises(ValueError, match="leaf"):
        table.discard_snapshot(s1)
    with pytest.raises(KeyError):
        table.discard_snapshot("nonexistent")


def test_discard_snapshot_expired_parent_clears_head(spark, table):
    """expire_snapshots keeps HEAD but may drop its parent's manifest;
    discarding HEAD then has no parent to roll back to — the truthful
    committed state is an empty table, not a KeyError with the torn
    snapshot left pinned."""
    table.append(_df(spark, 0, 10))
    s2 = table.overwrite(_df(spark, 0, 3))
    cutoff = int(time.time() * 1000) + 10_000
    assert table.expire_snapshots(older_than_ms=cutoff) == 1  # parent gone
    table.discard_snapshot(s2)
    assert table.current_snapshot_id() is None
    assert table.snapshots() == []


def test_write_time_stats_equal_read_back(spark, table):
    """Group stats are observed on the write job itself; they must equal
    an aggregate over the written files, nulls, strings, doubles and
    timestamps included (an all-null column's stats stay null)."""
    import os

    from pyspark.sql import functions as F

    from cdc_platform_spark.lakehouse.table import _json_safe

    df = spark.sql(
        """SELECT * FROM VALUES
             (1L, 'b', 2.5D, TIMESTAMP'2024-03-01 10:00:00', CAST(NULL AS INT)),
             (CAST(NULL AS BIGINT), 'it''s', CAST(NULL AS DOUBLE), CAST(NULL AS TIMESTAMP), CAST(NULL AS INT)),
             (7L, CAST(NULL AS STRING), -0.5D, TIMESTAMP'2023-12-31 23:59:59.123456', CAST(NULL AS INT))
           AS t(id, s, d, ts, none)"""
    )
    sid = table.append(df)
    table.append(df.filter("id = 7"))
    snap = table._snapshot(table.current_snapshot_id())
    group = snap["files"][0]
    assert table._snapshot(sid)["files"] == [group]
    written = spark.read.parquet(group)
    aggs = []
    for c in written.columns:
        aggs += [F.min(c).alias(f"min__{c}"), F.max(c).alias(f"max__{c}")]
    row = written.agg(*aggs).first()
    want = {
        c: {"min": _json_safe(row[f"min__{c}"]), "max": _json_safe(row[f"max__{c}"])}
        for c in written.columns
    }
    assert snap["stats"][group] == want
    assert want["none"] == {"min": None, "max": None}
    assert snap["rows"] == 4
    # the manifest records the table schema as a parquet scan reads it
    assert snap["schema"] == table.read().schema.jsonValue()
    assert os.path.isdir(group)


def test_append_is_one_spark_job(spark, table):
    """An append onto an existing table runs only its write job: stats
    ride on the write (Observation) and the evolution check reads the
    manifest schema, not a schema-inference scan."""
    table.append(_df(spark, 0, 10))
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup("lakehouse-append-jobs", "lakehouse append")
    try:
        table.append(_df(spark, 10, 20))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("lakehouse-append-jobs")) == 1
    assert table.read().count() == 20


def test_check_evolution_without_manifest_schema_and_after_rollback(spark, tmp_path):
    """Manifests written before the table schema was recorded fall back to
    a scan; after a rollback the evolution check uses the schema of the
    snapshot HEAD now points at."""
    import json
    import os

    from pyspark.sql import functions as F

    root = str(tmp_path / "legacy")
    t = VersionedTable(spark, root)
    s1 = t.append(spark.range(3).select(F.col("id"), F.lit("a").alias("v")))
    t.append(spark.range(3, 5).select(F.col("id"), F.lit("b").alias("v"), F.lit(1.5).alias("score")))
    for name in os.listdir(f"{root}/snapshots"):
        path = f"{root}/snapshots/{name}"
        with open(path) as fh:
            snap = json.load(fh)
        del snap["schema"]
        with open(path, "w") as fh:
            json.dump(snap, fh)

    legacy = VersionedTable(spark, root)  # fresh handle: no cached manifests
    with pytest.raises(ValueError, match="incompatible schema evolution"):
        legacy.append(spark.range(1).select(F.col("id"), F.lit(2).alias("score")))
    s3 = legacy.append(spark.range(5, 6).select(F.col("id"), F.lit("c").alias("v")))
    # the first commit after the legacy ones records the scanned schema
    assert [f["name"] for f in legacy._snapshot(s3)["schema"]["fields"]] == ["id", "v", "score"]

    legacy.rollback(s1)
    # at s1 the table had no `score`: an int score is now a new column
    s4 = legacy.append(spark.range(6, 7).select(F.col("id"), F.lit(2).alias("score")))
    fields = {f["name"]: f["type"] for f in legacy._snapshot(s4)["schema"]["fields"]}
    assert fields == {"id": "long", "v": "string", "score": "integer"}
    assert legacy.read().count() == 4

    # the same with recorded schemas: HEAD's manifest decides
    t2 = VersionedTable(spark, str(tmp_path / "recorded"))
    r1 = t2.append(spark.range(3).select(F.col("id")))
    t2.append(spark.range(3, 4).select(F.col("id"), F.lit(1.5).alias("score")))
    with pytest.raises(ValueError, match="incompatible schema evolution"):
        t2.append(spark.range(4, 5).select(F.col("id"), F.lit("x").alias("score")))
    t2.rollback(r1)
    r3 = t2.append(spark.range(4, 5).select(F.col("id"), F.lit("x").alias("score")))
    assert t2._snapshot(r3)["schema"]["fields"][1]["type"] == "string"
