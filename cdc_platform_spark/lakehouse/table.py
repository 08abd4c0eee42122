"""Versioned lakehouse table: snapshots, time travel, rollback, compaction.

The reference ships these as PyIceberg wrappers (reference
lakehouse/time_travel.py:19-58 — snapshot listing, point-in-time scan,
rollback; lakehouse/maintenance.py:106-244 — snapshot expiry and
compaction).  On a production Spark deployment every one of them is an
Iceberg built-in (`tbl.snapshots` metadata table, `VERSION AS OF`,
`rollback_to_snapshot`, `expire_snapshots`, `rewrite_data_files`).

This module provides the same table semantics on plain parquet + JSON
snapshot manifests so the whole surface is testable in-container, with
two deliberate design upgrades over the reference:

- compaction is a distributed Spark rewrite — the reference refuses to
  compact tables over 500k rows because it compacts in driver memory
  (maintenance.py:157-166, the documented anti-pattern we remove);
- every snapshot records files + row counts, so maintenance planning is
  metadata-only (same property the reference gets from Iceberg
  manifests, maintenance.py:149-156).

Layout:
    <root>/data/<uuid>/part-*.parquet     (immutable file groups)
    <root>/snapshots/<seq>-<id>.json      {id, parent, ts_ms, op, files, rows,
                                           stats, schema}
    <root>/HEAD                           current snapshot id
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Row, SparkSession

from cdc_platform_spark.lakehouse.format import TableFormat


def _json_safe(v):
    """Stats values must survive JSON roundtrip losslessly."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    return str(v)


def _as_read(schema) -> dict:
    """``schema``'s JSON form as a parquet scan returns it: every column,
    nested field, array element and map value reads back nullable."""

    def walk(v):
        if isinstance(v, list):
            return [walk(x) for x in v]
        if not isinstance(v, dict):
            return v
        v = {k: walk(x) for k, x in v.items()}
        for k in ("nullable", "containsNull", "valueContainsNull"):
            if k in v:
                v[k] = True
        return v

    return walk(schema.jsonValue())


class VersionedTable(TableFormat):
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        self._group_stats: dict[str, dict] = {}
        # committed manifests are immutable, so parsed JSON is cached per
        # file name; the directory is still re-listed on every call, so
        # additions/removals by OTHER table handles are always visible —
        # without this, every commit re-parses every manifest and table
        # lifetime cost is O(n^2) driver I/O.
        # Cache-safety invariant: manifest file names embed a fresh uuid
        # (_commit's `sid`), so a deleted-and-recreated table root can
        # never reuse a name with different contents — if that naming ever
        # changes, key this cache by (name, mtime, size) instead.
        self._manifest_cache: dict[str, dict] = {}
        os.makedirs(f"{root}/data", exist_ok=True)
        os.makedirs(f"{root}/snapshots", exist_ok=True)

    # --- snapshot bookkeeping ------------------------------------------------
    def _snapshot_files(self) -> list[str]:
        # only committed manifests: a crash between the .tmp write and the
        # rename in _commit leaves a partial .json.tmp behind, and parsing
        # it would wedge every subsequent table operation
        return sorted(
            n for n in os.listdir(f"{self.root}/snapshots") if n.endswith(".json")
        )

    def snapshots(self) -> list[dict]:
        """All snapshots, oldest first (ref time_travel.py:19-23)."""
        out = []
        for name in self._snapshot_files():
            snap = self._manifest_cache.get(name)
            if snap is None:
                with open(f"{self.root}/snapshots/{name}") as f:
                    snap = json.load(f)
                self._manifest_cache[name] = snap
            out.append(snap)
        return out

    def current_snapshot_id(self) -> str | None:
        head = f"{self.root}/HEAD"
        if not os.path.exists(head):
            return None
        with open(head) as f:
            return f.read().strip()

    def _snapshot(self, snapshot_id: str) -> dict:
        for s in self.snapshots():
            if s["id"] == snapshot_id:
                return s
        raise KeyError(f"unknown snapshot {snapshot_id!r}")

    def _commit(self, files: list[str], op: str, rows: int, schema: dict | None = None) -> str:
        """``schema`` is the table schema after this commit (JSON form);
        when omitted — rewrites that keep the table's columns — the
        parent's schema carries forward."""
        sid = uuid.uuid4().hex[:16]
        # seq must be max(existing)+1, not a file count: after expire_snapshots
        # deletes old manifests, a count would reuse a seq taken by a surviving
        # snapshot and break the lexicographic oldest-first ordering of
        # snapshots()
        existing = self._snapshot_files()
        seq = (max(int(n.split("-", 1)[0]) for n in existing) + 1) if existing else 0
        # carry stats forward: inherited groups keep the parent's manifest stats
        parent_id = self.current_snapshot_id()
        parent = self._snapshot(parent_id) if parent_id else {}
        parent_stats = parent.get("stats", {})
        stats = {g: (self._group_stats.get(g) or parent_stats.get(g) or {}) for g in files}
        snap = {
            "id": sid,
            "parent": parent_id,
            "ts_ms": int(time.time() * 1000),
            "op": op,
            "files": files,
            "rows": rows,
            "stats": stats,
        }
        schema = schema or parent.get("schema")
        if schema is not None:
            snap["schema"] = schema
        path = f"{self.root}/snapshots/{seq:06d}-{sid}.json"
        with open(f"{path}.tmp", "w") as f:
            json.dump(snap, f)
        os.rename(f"{path}.tmp", path)
        with open(f"{self.root}/HEAD.tmp", "w") as f:
            f.write(sid)
        os.rename(f"{self.root}/HEAD.tmp", f"{self.root}/HEAD")
        return sid

    @staticmethod
    def _statable(schema) -> list[str]:
        from pyspark.sql import types as T

        return [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (T.NumericType, T.StringType, T.TimestampType, T.DateType))
        ]

    def _write_group(self, df: DataFrame) -> tuple[str, int]:
        """Write one immutable file group.  Its row count and per-column
        min/max (scan-pruning stats: the role of Iceberg manifest entries,
        ref maintenance.py:149-156 metadata-only planning) are observed
        on the write job itself — no read-back or stats job."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        group = f"{self.root}/data/{uuid.uuid4().hex}"
        statable = self._statable(df.schema)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in statable:
            aggs += [F.min(c).alias(f"min__{c}"), F.max(c).alias(f"max__{c}")]
        obs = Observation(f"group-{uuid.uuid4().hex}")
        df.observe(obs, *aggs).write.mode("overwrite").parquet(group)
        row = obs.get
        stats = {
            c: {"min": _json_safe(row[f"min__{c}"]), "max": _json_safe(row[f"max__{c}"])}
            for c in statable
        }
        self._group_stats[group] = stats
        return group, int(row["__rows"])

    _GROUP_SALT = 8  # files-per-group parallelism of the one-pass rewrite

    def _write_groups(self, df: DataFrame, order_col: str, drop: list[str] | None = None) -> tuple[list[str], int]:
        """ONE-pass multi-group write for the clustering rewrites: ``df``
        carries an integer ``__g`` group id; all groups land in a single
        partitioned write job (parallelism = groups × ``_GROUP_SALT``
        salt, each task sorted on ``order_col``), each ``__g=`` partition
        dir is adopted as an immutable file group, and every group's
        manifest stats come from ONE grouped aggregate over the written
        output.  Replaces the filter-per-group path, which re-scanned the
        source and ran a stats job once PER group — n_groups+1 passes
        where the table's size is exactly the reason the rewrite exists.

        The temp dir lives under ``data/`` with a ``.tmp-`` prefix: it is
        unreferenced by any manifest, so a crash mid-write leaves garbage
        that the next ``expire_snapshots`` GC reclaims like any other
        unreferenced group."""
        from pyspark.sql import functions as F

        run = uuid.uuid4().hex
        tmp = f"{self.root}/data/.tmp-{run}"
        out = (
            df.withColumn("__salt", F.pmod(F.hash(order_col), F.lit(self._GROUP_SALT)))
            .repartition(F.col("__g"), F.col("__salt"))
            .sortWithinPartitions("__g", order_col)
            .drop("__salt", *(drop or []))
        )
        out.write.mode("overwrite").partitionBy("__g").parquet(tmp)

        written = self.spark.read.parquet(tmp)
        statable = self._statable(written.drop("__g").schema)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in statable:
            aggs += [F.min(c).alias(f"min__{c}"), F.max(c).alias(f"max__{c}")]
        rows = written.groupBy("__g").agg(*aggs).collect()

        groups: list[str] = []
        total = 0
        for r in sorted(rows, key=lambda r: r["__g"]):
            d = r.asDict()
            group = f"{self.root}/data/{uuid.uuid4().hex}"
            os.rename(f"{tmp}/__g={d['__g']}", group)
            self._group_stats[group] = {
                c: {"min": _json_safe(d[f"min__{c}"]), "max": _json_safe(d[f"max__{c}"])}
                for c in statable
            }
            groups.append(group)
            total += int(d["__rows"])
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        return groups, total

    # --- write paths ---------------------------------------------------------
    def append(self, df: DataFrame, partition_by: str | None = None) -> str:
        """New snapshot = parent files + new file group(s) (ref K3 append).

        With ``partition_by`` the batch splits into one file group per
        partition value (the reference's optional Iceberg partition spec,
        sinks/iceberg.py config `partition_spec`); partition values land in
        the group stats, so partition pruning is the ordinary stats pruning
        of read_where and compaction can run per partition (L3).
        """
        cur = self.current_snapshot_id()
        schema = self._check_evolution(df) if cur is not None else _as_read(df.schema)
        files = list(self._snapshot(cur)["files"]) if cur else []
        prev_rows = self._snapshot(cur)["rows"] if cur else 0
        added_rows = 0
        if partition_by is None:
            group, rows = self._write_group(df)
            files.append(group)
            added_rows = rows
        else:
            values = [r[0] for r in df.select(partition_by).distinct().collect()]
            for v in sorted(values, key=str):
                from pyspark.sql import functions as F

                # eqNullSafe: `col == None` is a NULL predicate that matches
                # nothing, which would silently drop null-partition rows
                part_df = df.filter(F.col(partition_by).eqNullSafe(F.lit(v)))
                group, rows = self._write_group(part_df)
                self._group_stats[group]["__partition__"] = {"min": _json_safe(v), "max": _json_safe(v)}
                files.append(group)
                added_rows += rows
            expected = df.count()
            if added_rows != expected:
                raise RuntimeError(
                    f"partitioned append wrote {added_rows} rows, batch has {expected}"
                )
        return self._commit(files, "append", prev_rows + added_rows, schema)

    def _check_evolution(self, df: DataFrame) -> dict:
        """Additive schema evolution (the reference's documented Iceberg sink
        behavior, README.md:478-486: "Iceberg auto-evolves via PyIceberg"):
        a batch may ADD columns (old rows read as null) or OMIT columns
        (new rows read as null); a changed type for an existing column is an
        error — the reference's Postgres sink errors such batches to the DLQ
        rather than corrupting the table.  Returns the table schema after
        appending ``df``.

        The HEAD schema comes from its manifest; a manifest written before
        manifests recorded it falls back to a schema-merging scan."""
        from pyspark.sql.types import StructType

        table = self._snapshot(self.current_snapshot_id()).get("schema") or _as_read(
            self.read().schema
        )
        current = {f.name: f.dataType for f in StructType.fromJson(table).fields}
        for f in df.schema.fields:
            if f.name in current and f.dataType != current[f.name]:
                raise ValueError(
                    f"incompatible schema evolution for column {f.name!r}: "
                    f"{current[f.name].simpleString()} -> {f.dataType.simpleString()}"
                )
        added = [f for f in _as_read(df.schema)["fields"] if f["name"] not in current]
        return {**table, "fields": table["fields"] + added}

    def overwrite(self, df: DataFrame) -> str:
        group, rows = self._write_group(df)
        return self._commit([group], "overwrite", rows, _as_read(df.schema))

    # --- read paths ----------------------------------------------------------
    def read(self, snapshot_id: str | None = None) -> DataFrame:
        """Scan HEAD or a point-in-time snapshot (ref time_travel.py:25-31;
        Iceberg `VERSION AS OF`)."""
        sid = snapshot_id or self.current_snapshot_id()
        if sid is None:
            raise ValueError("empty table")
        files = self._snapshot(sid)["files"]
        # mergeSchema: file groups written before an additive evolution lack
        # the new columns; the union schema nulls them in (Iceberg read path)
        return self.spark.read.option("mergeSchema", "true").parquet(*files)

    def read_where(self, column: str, op: str, value, snapshot_id: str | None = None) -> DataFrame:
        """Stats-pruned scan: skip file groups whose [min, max] range for
        ``column`` cannot satisfy ``column <op> value`` — metadata-only
        planning from the snapshot manifest (the Iceberg manifest-pruning
        pattern; ref maintenance.py:149-156), then apply the residual filter.
        """
        sid = snapshot_id or self.current_snapshot_id()
        if sid is None:
            raise ValueError("empty table")
        snap = self._snapshot(sid)

        def may_match(stats: dict) -> bool:
            cs = stats.get(column)
            if not cs or cs["min"] is None:
                return True  # no stats -> cannot prune
            lo, hi = cs["min"], cs["max"]
            if op == "=":
                return lo <= value <= hi
            if op == ">":
                return hi > value
            if op == ">=":
                return hi >= value
            if op == "<":
                return lo < value
            if op == "<=":
                return lo <= value
            raise ValueError(f"unsupported op {op!r}")

        keep = [g for g in snap["files"] if may_match(snap.get("stats", {}).get(g, {}))]
        self.last_scan_files = (len(keep), len(snap["files"]))
        from pyspark.sql import functions as F

        # mergeSchema everywhere a snapshot's groups are read together:
        # pre-evolution groups lack added columns, and they always survive
        # pruning for such a column (no stats -> cannot prune), so without
        # the union schema the scan either crashes (UNRESOLVED_COLUMN) or
        # silently drops the column
        if not keep:
            return self.spark.read.option("mergeSchema", "true").parquet(
                *snap["files"]
            ).limit(0)
        # residual via the column/literal API — repr-into-SQL breaks on
        # quote-containing strings and datetimes and invites injection
        col = F.col(column)
        residual = {
            "=": col == F.lit(value),
            ">": col > F.lit(value),
            ">=": col >= F.lit(value),
            "<": col < F.lit(value),
            "<=": col <= F.lit(value),
        }[op]
        return self.spark.read.option("mergeSchema", "true").parquet(*keep).filter(residual)

    def diff(self, from_snapshot: str, to_snapshot: str) -> DataFrame:
        """Row-level change feed between two snapshots: every row tagged
        '+' (added) or '-' (removed), multiset semantics (exceptAll both
        ways). The Delta/Iceberg `table_changes()` readout for a table
        without per-commit row tracking — derived purely from state."""
        from pyspark.sql import functions as F

        before = self.read(snapshot_id=from_snapshot)
        after = self.read(snapshot_id=to_snapshot)
        # align schemas across an additive evolution boundary: a snapshot
        # taken before the new column existed compares with it nulled in
        for f in after.schema.fields:
            if f.name not in before.columns:
                before = before.withColumn(f.name, F.lit(None).cast(f.dataType))
        for f in before.schema.fields:
            if f.name not in after.columns:
                after = after.withColumn(f.name, F.lit(None).cast(f.dataType))
        after = after.select(*sorted(after.columns))
        before = before.select(*sorted(before.columns))
        added = after.exceptAll(before).withColumn("_change", F.lit("+"))
        removed = before.exceptAll(after).withColumn("_change", F.lit("-"))
        return added.unionByName(removed)

    def snapshots_df(self) -> DataFrame:
        """Snapshot metadata as a DataFrame (Iceberg `tbl.snapshots` shape).

        Explicit schema: with zero snapshots (no rows) or one (whose
        parent_id is None) schema inference fails with
        CANNOT_DETERMINE_TYPE."""
        rows = [
            Row(
                snapshot_id=s["id"],
                parent_id=s["parent"],
                committed_at_ms=s["ts_ms"],
                operation=s["op"],
                n_files=len(s["files"]),
                n_rows=s["rows"],
            )
            for s in self.snapshots()
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id string, parent_id string, committed_at_ms long, "
            "operation string, n_files long, n_rows long",
        )

    # --- maintenance ---------------------------------------------------------
    def discard_snapshot(self, snapshot_id: str) -> None:
        """Un-commit a LEAF snapshot that was never published — manifest,
        HEAD (re-pointed to its parent, or cleared for a first commit),
        and any file groups no surviving snapshot references.

        This is the cleanup half of a torn-export retry
        (:meth:`~cdc_platform_spark.streaming.dedup_index.CuratedCorpusSink.
        export_to_table`): an export whose lazy source read overlapped a
        writer commit must not stay pinnable in history.  Only a childless
        snapshot may be discarded — discarding mid-chain would orphan its
        children's parent links; real Iceberg has no un-commit either
        (expire + rollback compose the same effect)."""
        snap = self._snapshot(snapshot_id)  # raises on unknown id
        children = [s["id"] for s in self.snapshots() if s.get("parent") == snapshot_id]
        if children:
            raise ValueError(
                f"snapshot {snapshot_id!r} has children {children}: only a "
                "leaf snapshot can be discarded"
            )
        if self.current_snapshot_id() == snapshot_id:
            try:
                # expire_snapshots keeps HEAD but may have dropped its
                # parent's manifest (and GC'd its groups) — falling back to
                # an empty table is then the truthful committed state
                self.rollback(snap["parent"]) if snap.get("parent") else os.remove(
                    f"{self.root}/HEAD"
                )
            except KeyError:
                os.remove(f"{self.root}/HEAD")
        for name in self._snapshot_files():
            if name.endswith(f"-{snapshot_id}.json"):
                os.remove(f"{self.root}/snapshots/{name}")
                self._manifest_cache.pop(name, None)
        referenced = {
            os.path.realpath(g) for s in self.snapshots() for g in s["files"]
        }
        for group in snap["files"]:
            if os.path.realpath(group) not in referenced:
                import shutil

                shutil.rmtree(group, ignore_errors=True)

    def rollback(self, snapshot_id: str) -> None:
        """Reset HEAD to an existing snapshot (ref time_travel.py:33-58:
        validate id, then set current)."""
        self._snapshot(snapshot_id)  # raises on unknown id
        with open(f"{self.root}/HEAD.tmp", "w") as f:
            f.write(snapshot_id)
        os.rename(f"{self.root}/HEAD.tmp", f"{self.root}/HEAD")

    def expire_snapshots(self, older_than_ms: int) -> int:
        """Drop snapshot metadata older than the cutoff, keeping HEAD and any
        file groups still referenced (ref maintenance.py:106-124). Returns the
        number of expired snapshots."""
        head = self.current_snapshot_id()
        keep: list[str] = []
        expired = 0
        for name in self._snapshot_files():
            snap = self._manifest_cache.get(name)
            if snap is None:
                with open(f"{self.root}/snapshots/{name}") as f:
                    snap = json.load(f)
            if snap["id"] == head or snap["ts_ms"] >= older_than_ms:
                keep.append(name)
            else:
                expired += 1
                os.remove(f"{self.root}/snapshots/{name}")
                self._manifest_cache.pop(name, None)
        # garbage-collect unreferenced file groups.  Compare REAL paths:
        # manifests record the root spelling used at write time, and a
        # maintenance job opening the same table as './tbl' or 'tbl/'
        # would otherwise see zero matches and delete live data.
        referenced: set[str] = set()
        for s in self.snapshots():
            referenced.update(os.path.realpath(g) for g in s["files"])
        for group in os.listdir(f"{self.root}/data"):
            path = f"{self.root}/data/{group}"
            if os.path.realpath(path) not in referenced:
                import shutil

                shutil.rmtree(path, ignore_errors=True)
        return expired

    def compact_partition(self, partition_by: str, value, max_files: int = 4) -> str | None:
        """Per-partition compaction (ref L3, maintenance.py:178-244): rewrite
        only the file groups of one partition when it exceeds the small-file
        threshold. Planning is metadata-only (manifest stats); other
        partitions' groups are untouched."""
        cur = self.current_snapshot_id()
        if cur is None:
            return None
        snap = self._snapshot(cur)
        key = _json_safe(value)

        def in_partition(g: str) -> bool:
            ps = snap.get("stats", {}).get(g, {}).get("__partition__")
            return bool(ps) and ps["min"] == key

        part_groups = [g for g in snap["files"] if in_partition(g)]
        if len(part_groups) <= max_files:
            return None
        # mergeSchema: groups written before an additive evolution lack the
        # added columns; reading without the union schema would rewrite the
        # partition WITHOUT them — permanent data loss once the old groups
        # are expired
        df = self.spark.read.option("mergeSchema", "true").parquet(*part_groups)
        group, rows = self._write_group(df.coalesce(1))
        self._group_stats[group]["__partition__"] = {"min": key, "max": key}
        other = [g for g in snap["files"] if g not in part_groups]
        return self._commit(other + [group], "rewrite", snap["rows"])

    def compact(self, max_files: int = 4) -> str | None:
        """Distributed compaction: if the current snapshot references more
        than ``max_files`` file groups, rewrite them as one group via a full
        Spark job (ref maintenance.py:138-176 — minus the driver-memory
        500k-row limit: Spark spills, so no safety valve is needed).

        Planning is metadata-only (file counts from the snapshot manifest,
        same as the reference's manifest-based planning).
        """
        cur = self.current_snapshot_id()
        if cur is None:
            return None
        snap = self._snapshot(cur)
        if len(snap["files"]) <= max_files:
            return None
        # mergeSchema: without the union schema a compaction after additive
        # evolution adopts one group's schema and silently drops the other
        # groups' added columns from the table forever (the auto-compacting
        # LakehouseAppendSink would hit this on its own)
        df = self.spark.read.option("mergeSchema", "true").parquet(*snap["files"])
        group, rows = self._write_group(df.coalesce(max(1, df.rdd.getNumPartitions() // 4)))
        return self._commit([group], "rewrite", rows)

    def rewrite_sorted(self, sort_by: str, n_groups: int = 4) -> str | None:
        """Sort-clustered rewrite (Iceberg's ``rewrite_data_files`` with a
        sort order): range-partition the table on ``sort_by`` into
        ``n_groups`` file groups with DISJOINT [min, max] ranges, so the
        manifest stats pruning in :meth:`read_where` skips all but the
        matching group(s). The reference has no equivalent (its compaction
        only counters small files); at 100 TB clustering is what turns
        stats from bookkeeping into I/O elimination.

        Range boundaries come from one ``approxQuantile`` sketch pass
        (Greenwald-Khanna: distributed, mergeable — never the exact
        ``percentile`` aggregate, whose single buffer holds every value
        of the sort column); group writes are driver-sequenced filters
        over those boundaries.  A cluster deployment can equally use
        ``repartitionByRange(n).sortWithinPartitions`` and split the
        output files into groups by range — same layout.

        The sketch buckets via ``cast(sort_by as double)``, so the sort
        column must be numeric or timestamp (ADVICE r12: a string key
        casts to all-NULLs and would silently degrade to one garbled
        group where the old exact-percentile path failed loudly — now it
        raises).  Caveat kept deliberately: bigint keys beyond 2^53 can
        misassign rows within a ULP of a group edge — groups stay
        disjoint and rows conserved (stats are computed from the written
        data), so only pruning sharpness at the boundary is affected.
        """
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        cur = self.current_snapshot_id()
        if cur is None:
            return None
        snap = self._snapshot(cur)
        df = self.read()
        field = df.schema[sort_by]
        if not isinstance(field.dataType, (T.NumericType, T.TimestampType, T.DateType)):
            raise TypeError(
                f"rewrite_sorted: sort column {sort_by!r} has type "
                f"{field.dataType.simpleString()} — range bucketing needs a "
                "numeric/timestamp/date key (a non-castable key would bucket "
                "every row as NULL and destroy the clustering silently)"
            )
        if isinstance(field.dataType, T.DateType):
            # date does not cast to double; days-since-epoch does
            sort_expr = F.datediff(F.col(sort_by), F.lit("1970-01-01")).cast("double")
        else:
            sort_expr = F.col(sort_by).cast("double")
        qs = [i / n_groups for i in range(1, n_groups)]
        edges = (
            df.select(sort_expr.alias("__s")).stat.approxQuantile(
                "__s", qs, 1.0 / (8 * n_groups)
            )
            if qs
            else []
        )
        if edges:
            # group id = number of boundaries strictly below the value
            # (group 0 spans up to edges[0], the last group is unbounded
            # above); NULL sort keys route to group 0 — every range
            # comparison evaluates NULL for them, so without the explicit
            # branch they would vanish from the rewritten snapshot
            arr = F.array(*[F.lit(float(e)) for e in edges])
            v = sort_expr
            g = F.when(F.col(sort_by).isNull(), F.lit(0)).otherwise(
                F.size(F.filter(arr, lambda x: x < v))
            )
        else:
            # entirely-NULL sort column (the sketch sees no values):
            # rewrite as a single group
            g = F.lit(0)
        groups, total = self._write_groups(df.withColumn("__g", g.cast("int")), sort_by)
        if total != snap["rows"]:
            raise RuntimeError(
                f"rewrite_sorted produced {total} rows, snapshot has {snap['rows']} — aborting commit"
            )
        return self._commit(groups, "rewrite-sorted", total)

    @staticmethod
    def _zorder_annotate(df, columns: list[str], bits: int = 8):
        """Add a ``__z`` column: per-column approx-percentile rank buckets,
        bit-interleaved into a z-value.

        Bucket boundaries come from ONE ``approxQuantile`` pass over all z
        columns together (Greenwald-Khanna sketch: distributed, mergeable,
        no sort). Each row is then mapped to its bucket by counting the
        boundaries below its value against the broadcast boundary array —
        a per-row O(2^bits) scan of a 255-element literal, fully inside
        whole-stage codegen. No window, no global sort, no single-partition
        stage anywhere; the only driver-side state is the 2^bits-1 doubles
        per column.

        NULLs land in bucket 0 (every boundary comparison is NULL, so the
        filtered array is empty) — the same slot ntile's nulls-first
        ordering would assign — so null keys are conserved by the rewrite.
        Columns are bucketed through a cast to double; an all-NULL column
        yields zero boundaries and constant bucket 0, which degrades that
        dimension gracefully instead of aborting.
        """
        from pyspark.sql import functions as F

        nb = 2**bits
        qs = [i / nb for i in range(1, nb)]
        dcols = [f"__d{i}" for i in range(len(columns))]
        ddf = df.select(
            *[F.col(c).cast("double").alias(d) for c, d in zip(columns, dcols)]
        )
        all_bounds = ddf.stat.approxQuantile(dcols, qs, 1.0 / (4 * nb))
        z = F.lit(0).cast("long")
        ncols = len(columns)
        for i, (c, bnds) in enumerate(zip(columns, all_bounds)):
            if bnds:
                arr = F.array(*[F.lit(float(b)) for b in bnds])
                v = F.col(c).cast("double")
                bucket = F.size(F.filter(arr, lambda x: x < v)).cast("long")
            else:  # all-NULL column: no sketch output, constant bucket
                bucket = F.lit(0).cast("long")
            df = df.withColumn(f"__b{i}", bucket)
            for j in range(bits):
                z = z + F.shiftleft(F.shiftright(F.col(f"__b{i}"), j).bitwiseAND(F.lit(1)), j * ncols + i)
        return df.withColumn("__z", z).drop(*[f"__b{i}" for i in range(ncols)])

    def rewrite_zorder(self, columns: list[str], n_groups: int = 16, bits: int = 8) -> str | None:
        """Z-order clustering (Delta OPTIMIZE ZORDER / Iceberg sort-order with
        a space-filling curve): bucket each column into 2^bits rank buckets,
        bit-interleave the buckets into a z-value, and range-partition the
        table on z. File groups then have TIGHT min/max ranges on EVERY
        z-ordered column simultaneously, so :meth:`read_where` prunes on any
        of them — single-column clustering (rewrite_sorted) can only serve
        one probe dimension.

        Rank bucketing uses approx-percentile boundaries (see
        :meth:`_zorder_annotate` — one sketch pass, no global sort, no
        window), the z-range group edges likewise come from
        ``percentile_approx`` rather than an exact percentile, and all
        groups land in ONE partitioned write (:meth:`_write_groups`), so
        the whole maintenance op is three passes total — z-sketch, edge
        sketch, write — with every stage embarrassingly parallel.
        """
        from pyspark.sql import functions as F

        from pyspark.sql import types as T

        cur = self.current_snapshot_id()
        if cur is None:
            return None
        snap = self._snapshot(cur)
        base = self.read()
        for c in columns:
            dt = base.schema[c].dataType
            if not isinstance(dt, (T.NumericType, T.TimestampType)):
                raise TypeError(
                    f"rewrite_zorder: column {c!r} has type {dt.simpleString()} — "
                    "rank bucketing needs numeric/timestamp keys (a non-castable "
                    "column would bucket every row to 0 and silently drop that "
                    "dimension from the curve)"
                )
        df = self._zorder_annotate(base, columns, bits)
        qs = [i / n_groups for i in range(1, n_groups)]
        edges_row = df.select(
            F.percentile_approx("__z", F.array(*[F.lit(q) for q in qs]), F.lit(10_000)).alias("e")
        ).collect()[0]
        edges = list(edges_row["e"] or [])
        if edges:
            # group id = number of z-edges strictly below __z (same rule
            # as rewrite_sorted); __z is never NULL — null z-columns
            # bucket to 0 in _zorder_annotate
            arr = F.array(*[F.lit(int(e)) for e in edges])
            g = F.size(F.filter(arr, lambda x: x < F.col("__z")))
        else:
            g = F.lit(0)
        groups, total = self._write_groups(
            df.withColumn("__g", g.cast("int")), "__z", drop=["__z"]
        )
        if total != snap["rows"]:
            raise RuntimeError(
                f"rewrite_zorder produced {total} rows, snapshot has {snap['rows']} — aborting commit"
            )
        return self._commit(groups, "rewrite-zorder", total)
