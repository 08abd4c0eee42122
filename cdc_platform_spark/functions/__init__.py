"""Column-expression helpers shared across operators.

All helpers keep arithmetic exact (DECIMAL / integer) until the final
cast, so Spark and the DuckDB oracle produce bit-identical values —
the engine's equivalent of the reference's decimal-as-string policy
(reference sources/debezium/config.py:66 ``decimal.handling.mode``)
taken one step further: decimals stay *numbers*, but every hashed
output is either exact or a deterministic double derived from an exact
value.
"""

from __future__ import annotations

import os

from pyspark.sql import Column
from pyspark.sql import functions as F

# Monetary / fraction columns in the fixtures carry <= 2 decimal digits;
# DECIMAL(18,2) holds them exactly at any realistic magnitude.
MONEY = "decimal(18,2)"


def money(col: str | Column) -> Column:
    """Exact-decimal view of a 2-dp double column (price, discount, value)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def dsum(col: str | Column, alias: str) -> Column:
    """Deterministic SUM: exact decimal sum, surfaced as DOUBLE.

    r14: computed as ``SUM(hundredths)/100`` over :func:`fp_hundredths`
    longs cast DECIMAL(18,0) — the per-row work is primitive arithmetic
    instead of a BigDecimal allocation (``cast(double AS DECIMAL(18,2))``)
    and the accumulator value (<= 100x the money total) stays on the
    compact-decimal fast path; the recombining division by 100 is exact,
    so the final double is bit-identical to the r13
    ``SUM(DECIMAL(18,2)) :: DOUBLE`` form (oracle-verified)."""
    return (F.sum(fp_hundredths(col).cast("decimal(18,0)")) / 100).cast("double").alias(alias)


def davg(col: str | Column, alias: str) -> Column:
    """Deterministic AVG: exact decimal sum cast to double, / count (IEEE).

    Spark's AVG(decimal) and DuckDB's AVG(decimal) round differently;
    sum-exact-then-IEEE-divide is identical on both engines.  Same
    fp-hundredths sum as :func:`dsum` (exact; see there).
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        (F.sum(fp_hundredths(c).cast("decimal(18,0)")) / 100).cast("double") / F.count(c)
    ).alias(alias)


def revenue(price: str = "l_extendedprice", discount: str = "l_discount") -> Column:
    """Exact extended revenue term price*(1-discount) as DECIMAL."""
    return money(price) * (F.lit(1).cast(MONEY) - money(discount))


def sum_scaled_long(x: Column, scale_divisor: int, alias: str) -> Column:
    """Exact ``SUM(x)/scale_divisor`` as DOUBLE for a long-valued column,
    via a high/low split that keeps every per-row accumulator add on the
    compact (64-bit) decimal fast path.

    ``SUM(cast(x AS DECIMAL(38,0)))`` is exact but slow: the precision-38
    accumulator quickly exceeds the compact range for fixed-point money
    products (~2e15/row), so most adds run through BigDecimal (measured
    2.2x slower than this split on the q10 aggregate at sf0.1, guide
    §1.2 "per-task work").  Splitting ``x = hi*2^30 + lo`` keeps both
    running sums small (hi <= x/2^30, lo < 2^30): they stay inside the
    compact-long add path until ~9.2e18, i.e. trillions of rows per
    group, and beyond that the decimal accumulator PROMOTES instead of
    overflowing — exact at any scale, unlike a raw long sum under ANSI
    (overflow error) or not (silent wrap).

    Identity: ``x = (x >> 30)*2^30 + (x & (2^30-1))`` holds for all
    longs (arithmetic shift = floor division, mask = non-negative
    remainder), so ``SUM(x) = 2^30*SUM(hi) + SUM(lo)`` exactly; the
    single per-group recombination is exact decimal arithmetic and the
    final double cast sees the identical exact value the DECIMAL(38,0)
    formulation produced.
    """
    return sum_scaled_long_exact(x, scale_divisor).cast("double").alias(alias)


def sum_scaled_long_exact(x: Column, scale_divisor: int) -> Column:
    """The exact-DECIMAL form of :func:`sum_scaled_long` (un-aliased, no
    double cast) for callers that keep the exact sum for downstream
    decimal arithmetic (e.g. q53's share-of-total window)."""
    hi = F.shiftright(x, 30).cast("decimal(18,0)")
    lo = x.bitwiseAND(F.lit((1 << 30) - 1)).cast("decimal(18,0)")
    total = F.sum(hi) * F.lit(1 << 30).cast("decimal(12,0)") + F.sum(lo)
    return total / F.lit(scale_divisor)


def fp_hundredths(col: str | Column) -> Column:
    """Exact integer hundredths of a <=2-dp money DOUBLE column, as a
    long, in pure primitive arithmetic.

    Contract (same as MONEY above): the column carries values ``v = n/100``
    for integer ``n`` — every fixture money/fraction column.  The stored
    double ``d`` is the nearest double to ``n/100``, so
    ``|d*100 - n| < 0.5`` for ``|n|`` up to ~2^51; adding ±0.5 toward the
    value's sign and truncating toward zero (the long cast) therefore
    recovers ``n`` exactly — identical to the r13
    ``(cast(v AS DECIMAL(18,2)) * 100) :: LONG`` form but with no per-row
    BigDecimal allocation (measured: the q10 aggregate stage dropped
    ~1.8x when every money column switched; guide §1.2 "per-task work").
    NULL propagates through unchanged.  Only for DOUBLE inputs holding
    <=2-dp values; use :func:`money` for arbitrary-precision casts."""
    c = F.col(col) if isinstance(col, str) else col
    return (c * 100 + F.when(c < 0, F.lit(-0.5)).otherwise(F.lit(0.5))).cast("long")


def revenue_fp4(price: str = "l_extendedprice", discount: str = "l_discount") -> Column:
    """``price*(1-discount)`` in exact integer 10^-4 units (long): the
    plain-long per-row form of :func:`revenue` —
    ``price_fp2*(100-discount_fp2)`` == ``revenue()*10^4`` exactly, with
    no wide-decimal per-row product.  Pair with
    ``sum_scaled_long(revenue_fp4(), 10_000, ...)`` for an exact revenue
    sum surfaced as DOUBLE."""
    return fp_hundredths(price) * (F.lit(100).cast("long") - fp_hundredths(discount))


def oracle_davg(col: str) -> str:
    """DuckDB SQL fragment matching :func:`davg`."""
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) / COUNT({col})"


def oracle_dsum(col: str) -> str:
    """DuckDB SQL fragment matching :func:`dsum`."""
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"


ORACLE_REVENUE = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)


def materialize(df, eager: bool = False):
    """Materialize ``df`` once and truncate its lineage — the single seam
    every operator's "write an intermediate table" point routes through
    (sorted_view tails, shared subtrees, iterative plans).

    Local default: ``localCheckpoint`` — blocks live on executors, the
    cheapest correct form in local mode and the bench (one process cannot
    lose an executor; nothing persists across bench runs — the checkpoint
    re-materializes inside every timed action).

    At the 100 TB design point localCheckpoint is NOT cluster-safe: it
    truncates lineage while storing blocks only on executors, so an
    executor loss after the checkpoint makes the result unrecoverable
    (job failure instead of recompute), and it is incompatible with
    dynamic allocation / decommissioning (VERDICT r14).  A cluster
    deployment sets ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` (or the session
    conf ``spark.cdc.reliableCheckpoint=true``) together with
    ``SparkContext.setCheckpointDir(<durable fs>)``; every
    materialization point then routes through a RELIABLE ``checkpoint()``
    — a staging write to the checkpoint dir, i.e. "write the result
    table, then read it back".  Row set and values are identical either
    way; only durability (and the write cost that buys it) changes.
    """
    env_on = os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT", "").lower()
    if env_on not in ("", "0", "false"):
        return df.checkpoint(eager=eager)
    # read on every call (one conf round-trip): a switch flipped after the
    # first materialization takes effect, and sink threads of a concurrent
    # fan-out share no cached session state
    try:
        conf_on = df.sparkSession.conf.get("spark.cdc.reliableCheckpoint", "false")
    except Exception:  # pragma: no cover — conf service unavailable
        conf_on = "false"
    if conf_on.lower() == "true":
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def sorted_view(df, *cols):
    """Global ORDER BY over a MATERIALIZED child.

    A bare ``.orderBy(...)`` plans a range-partition exchange, and
    RangePartitioner samples the child by running it a second time —
    so every operator above the query's last shuffle (window functions,
    Arrow/Python stages, candidate verification joins) executes twice
    per action (guide §7.2 "duplicated subtrees"; measured r14: q16
    1.62 -> 0.62 s, mm_decode_metadata 1.01 -> 0.73 s at sf0.1).
    ``localCheckpoint`` materializes the child once; the sampling pass
    and the shuffle map stage then read the same blocks.  On a lakehouse
    deployment this is "write the result table, then sort-export it" —
    the checkpoint is the intermediate table.  Row set and final order
    are unchanged; only for tails whose pre-sort compute is substantial
    (for a cheap final aggregate the materialization costs more than the
    re-run, so those keep the bare orderBy).  Materialization routes
    through :func:`materialize` (reliable-checkpoint switch on a cluster)."""
    out = materialize(df).orderBy(*cols)
    # explain() of a checkpointed frame shows only `Scan ExistingRDD`; keep
    # the pre-checkpoint child reachable so plan-shape tests (and humans)
    # can still inspect the real subtree. Pure metadata — never executed.
    # NOTE for tests: any transformation applied on top of this result
    # returns a NEW DataFrame without the attribute, and plan_text()-style
    # helpers that concatenate child explains make occurrence-COUNTING
    # ambiguous — treat _plan_child-based assertions as membership-only,
    # or assert the attribute is present before relying on it (ADVICE r14).
    out._plan_child = df
    return out


def spread(df, min_factor: int = 2):
    """Repartition a coarsely-partitioned input ahead of compute-bound narrow
    transforms (single-row-group fixture files read as one split). On a real
    cluster with many input splits this is a no-op."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target // min_factor:
        return df.repartition(target)
    return df


def distributed_prefix_sum(df, order_col: str, value_col: str, out_col: str = "prefix"):
    """EXCLUSIVE running sum of ``value_col`` in ``order_col`` order, the
    scale-safe way: range-partition on the order column (materialized once so
    both passes share identical boundaries), reduce each partition to ONE
    total, window the #partitions-row totals table for exclusive offsets,
    broadcast back, add the partition-local running sum.

    PRECONDITION: ``order_col`` must be unique. With duplicate keys the
    partition-local exclusive window's ordering among ties is
    nondeterministic, so re-runs could assign tied rows different prefixes
    (every current caller orders by a primary key).

    The naive ``Window.orderBy(order_col)`` with no partitioning funnels the
    whole dataset through a single task. Here the full data crosses the wire
    a bounded number of times — the range partitioning, plus the hash
    exchanges Catalyst inserts after ``localCheckpoint`` erases the range
    partitioning from the plan (the _psum_pid window and join) — but no
    stage ever serializes the whole dataset through ONE task; the only
    single-task structure is the #partitions-row offsets window, which is
    bounded metadata (the same class as zipWithIndex's offset collection).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F  # noqa: N812 (local: avoid cycle at import)

    spark = df.sparkSession
    n_parts = max(spark.sparkContext.defaultParallelism, 2)
    parted = (
        df.repartitionByRange(n_parts, order_col)
        .sortWithinPartitions(order_col)
        .withColumn("_psum_pid", F.spark_partition_id())
        .transform(materialize, eager=True)
    )
    w_off = Window.orderBy("_psum_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        parted.groupBy("_psum_pid")
        .agg(F.sum(value_col).alias("_psum_total"))
        .withColumn("_psum_offset", F.coalesce(F.sum("_psum_total").over(w_off), F.lit(0)))
        .select("_psum_pid", "_psum_offset")
    )
    w_loc = (
        Window.partitionBy("_psum_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        parted.withColumn("_psum_local", F.coalesce(F.sum(value_col).over(w_loc), F.lit(0)))
        .join(F.broadcast(offsets), "_psum_pid")
        .withColumn(out_col, F.col("_psum_offset") + F.col("_psum_local"))
        .drop("_psum_pid", "_psum_local", "_psum_offset")
    )
