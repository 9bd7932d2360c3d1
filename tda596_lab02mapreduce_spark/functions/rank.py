"""Distributed exact global rank / prefix-sum / ntile.

The single-partition ``Window.orderBy(...)`` (no partitionBy) is the
one scale sin Spark makes easy: WindowExec moves the ENTIRE input
through one task ("No Partition Defined for Window operation!").  It
is the moral twin of the reference engine's coordinator-on-the-data-
plane bottleneck (mr/coordinator.go:86-113 serves every shuffle byte
through one process) — and the fix is the same shape: spread the data,
keep only per-partition summaries on the narrow path.

``global_rank_cumsum`` computes EXACT global row_number (and optional
running sums) in two distributed passes:

1. ``repartitionByRange`` on the sort key: each range partition holds
   a contiguous slice of the global order.  Within each partition a
   PARTITIONED window (keyed by ``spark_partition_id()``) produces
   local ranks / local prefix sums — every task bounded by its slice.
2. Per-partition totals (one row per partition, ≤ num_partitions
   rows) are turned into per-partition OFFSETS with a triangular
   self-join (offset_p = Σ totals of partitions before p — no window
   at all on this path), then broadcast-joined back.

global rank = offset_count + local rank; global prefix sum =
offset_sum + local prefix sum.  Exact, deterministic, and no task
ever holds more than one range slice.  The oracles and hashes of the
rewired queries are unchanged — only the physical plan moved.

Determinism note: range boundaries come from sampling, and the plan
has TWO consumers of the partitioned data (the per-row branch and the
totals branch).  If Catalyst failed to reuse the exchange, the two
branches could sample DIFFERENT boundaries and the offsets would not
match the local ranks.  ``localCheckpoint(eager=False)`` pins the
partitioned RDD so both branches read the one materialization — the
same single-evaluation discipline operators/components.py uses for
its iterative rounds.

``small_df_rank`` is the companion for frames that are PROVABLY tiny
(a top-K after ``limit``, an alphabet² pair table, a 10-decile
curve): a triangular self-join computes the same exact row_number
with no window node at all — no single-partition sort, nothing for
WindowExec to warn about, and quadratic only in the (bounded) row
count.  (A constant partitionBy(lit(0)) does NOT work as an escape
hatch: Catalyst folds literal partition keys away and the plan
degenerates back to the partition-less window.)
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

_PID = "__rank_pid"
_BKT = "__rank_bkt"
_LRANK = "__rank_local"


def small_df_rank(
    df: DataFrame,
    order_pairs: Sequence[tuple[str, str]],
    *,
    rank_col: str = "rnk",
) -> DataFrame:
    """Exact global 1-based row_number over a PROVABLY SMALL DataFrame
    (≤ a few thousand rows, bounded by construction — after a
    ``limit``, or keyed by a bounded domain) via a triangular
    self-join: rank(row) = 1 + count of rows strictly ordered before
    it.  ``order_pairs`` is ``[(col, "asc"|"desc"), ...]`` and must be
    a total order (unique tiebreak) or ranks would collide.

    PRECONDITION: every order column must be NON-NULL.  The strictly-
    before predicate uses plain comparisons, so a NULL key makes the
    join condition NULL — NULL-keyed rows would match nothing (all
    rank 1) and be invisible to other rows' counts, silently producing
    duplicate/shifted ranks (ADVICE r8 #3).  All current callers feed
    aggregate outputs (non-null by construction); enforce with a
    ``coalesce``/``filter`` upstream before adding a nullable caller."""
    cols = df.columns
    other = df.select(*[F.col(c).alias(f"__b_{c}") for c in cols])
    strictly_before = F.lit(False)
    ties = F.lit(True)
    for name, direction in order_pairs:
        a, b = F.col(name), F.col(f"__b_{name}")
        cmp = b > a if direction == "desc" else b < a
        strictly_before = strictly_before | (ties & cmp)
        ties = ties & (b == a)
    first_key = f"__b_{order_pairs[0][0]}"
    return (
        df.join(F.broadcast(other), strictly_before, "left")
        .groupBy(*cols)
        .agg((F.count(first_key) + 1).cast("bigint").alias(rank_col))
    )


def global_rank_cumsum(
    df: DataFrame,
    order_exprs: Sequence[Column | str],
    sum_cols: Sequence[tuple[str, Column | str]] = (),
    *,
    rank_col: str = "rnk",
    num_partitions: int | None = None,
    bucket_expr: Column | None = None,
) -> DataFrame:
    """Add an exact global 1-based ``rank_col`` (row_number over
    ``order_exprs``) and, for each ``(out_name, col)`` in ``sum_cols``,
    an inclusive running sum ``out_name`` — all without a
    single-partition WindowExec.

    ``order_exprs`` must be a total order (include a unique tiebreak):
    range partitioning splits strictly between distinct key tuples, so
    duplicate full keys could straddle a boundary and double-count.
    ``bucket_expr`` selects the deterministic monotone-bucket fast path
    (see grouped_rank_cumsum).
    """
    return grouped_rank_cumsum(
        df,
        (),
        order_exprs,
        sum_cols,
        rank_col=rank_col,
        num_partitions=num_partitions,
        bucket_expr=bucket_expr,
    )


def grouped_rank_cumsum(
    df: DataFrame,
    group_cols: Sequence[str],
    order_exprs: Sequence[Column | str],
    sum_cols: Sequence[tuple[str, Column | str]] = (),
    *,
    rank_col: str = "rnk",
    num_partitions: int | None = None,
    bucket_expr: Column | None = None,
) -> DataFrame:
    """Exact PER-GROUP 1-based row_number / inclusive running sums for
    LOW-CARDINALITY group keys — the case where an ordinary keyed
    window (``Window.partitionBy(group)``) caps parallelism at the
    group count (5 event types = 5 tasks forever, the keyed cousin of
    the partition-less-window trap).

    Range-partition on (group, order) so a group spans MANY partitions
    without any task holding a whole group; per-(partition, group)
    keyed windows produce local ranks/prefixes; per-group offsets come
    from a triangular join over the ≤ partitions × groups summary rows
    (tiny for low-cardinality groups — high-cardinality groups should
    just use the ordinary keyed window, which is already parallel).

    (group_cols + order_exprs) must be a total order per group; with
    ``group_cols=()`` this is exactly ``global_rank_cumsum``.

    ``bucket_expr`` — deterministic fast path.  When the caller has a
    MONOTONE bucketing of the order key (every row of bucket b sorts
    before every row of bucket b+1 within its group: an integer value
    div a width, the leading byte of the hash the order sorts on, …),
    pass it and the helper skips the range-boundary sampling job
    (sampled boundaries are what make the two plan branches
    nondeterministic; an expression is deterministic by construction).
    One hash exchange on (group, bucket), keyed local windows,
    per-(group, bucket) offsets.  Balance is the
    caller's contract — uniform hashes bucket perfectly, value widths
    track the data distribution."""
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    gcols = list(group_cols)
    order_exprs = list(order_exprs)
    # The slice key: a range partition id, or the caller's bucket.
    if bucket_expr is None:
        key, bkey = _PID, "__bpid"
        part = df.repartitionByRange(n, *gcols, *order_exprs).withColumn(
            _PID, F.spark_partition_id()
        )
    else:
        key, bkey = _BKT, "__bbkt"
        part = df.withColumn(_BKT, bucket_expr).repartition(n, *gcols, _BKT)
    # With sampled boundaries the pin keeps both branches on one
    # sample; with a bucket (deterministic by construction) it stops
    # the local/totals/offsets branches from re-running the caller's
    # upstream lineage (scan + aggregate) once per branch.
    part = part.localCheckpoint(eager=False)
    w = Window.partitionBy(key, *gcols).orderBy(*order_exprs)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    local = part.withColumn(_LRANK, F.row_number().over(w))
    for name, col in sum_cols:
        local = local.withColumn(f"__lcum_{name}", F.sum(col).over(wcum))

    totals = local.groupBy(key, *gcols).agg(
        F.max(_LRANK).alias("__pcnt"),
        # the slice total is the prefix sum AT THE LAST ROW, not the
        # max prefix — they only coincide for nonnegative summands, and
        # signed summands (sweep-line ±1 deltas) broke the max form
        *[
            F.max_by(f"__lcum_{name}", F.col(_LRANK)).alias(f"__ptot_{name}")
            for name, _ in sum_cols
        ],
    )
    prior = totals.select(
        F.col(key).alias(bkey),
        *[F.col(g).alias(f"__bg_{g}") for g in gcols],
        F.col("__pcnt").alias("__bcnt"),
        *[F.col(f"__ptot_{name}").alias(f"__btot_{name}") for name, _ in sum_cols],
    )
    # Triangular join over the ≤ n × |groups| summary rows: offset of
    # (group, slice) = sum of the SAME group's totals in earlier slices.
    # Tiny × tiny — broadcast nested loop (equi-part on group + range on key).
    cond = F.col(bkey) < F.col(key)
    for g in gcols:
        cond = cond & (F.col(f"__bg_{g}") == F.col(g))
    offs = (
        totals.join(F.broadcast(prior), cond, "left")
        .groupBy(key, *gcols)
        .agg(
            F.coalesce(F.sum("__bcnt"), F.lit(0)).alias("__off_cnt"),
            *[
                F.coalesce(F.sum(f"__btot_{name}"), F.lit(0)).alias(f"__off_{name}")
                for name, _ in sum_cols
            ],
        )
    )
    out = local.join(F.broadcast(offs), [key, *gcols])
    out = out.withColumn(rank_col, (F.col("__off_cnt") + F.col(_LRANK)).cast("bigint"))
    drop = [key, _LRANK, "__off_cnt"]
    for name, _ in sum_cols:
        out = out.withColumn(name, F.col(f"__off_{name}") + F.col(f"__lcum_{name}"))
        drop += [f"__lcum_{name}", f"__off_{name}"]
    return out.drop(*drop)


def global_ntile(
    df: DataFrame,
    order_exprs: Sequence[Column | str],
    k: int,
    *,
    bucket_col: str = "bucket_id",
) -> DataFrame:
    """Exact global ``ntile(k)`` from the distributed rank: with N rows
    the first N % k buckets get ceil(N/k) rows — the identical
    semantics Spark's and DuckDB's ntile use, reproduced from (rank,
    N) with row-local arithmetic.  N arrives as a broadcast 1-row
    aggregate of the ranked output, never a global window."""
    ranked = global_rank_cumsum(df, order_exprs, rank_col="__ntile_rank")
    tot = ranked.agg(F.max("__ntile_rank").alias("__ntile_n"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn(
            bucket_col,
            ntile_from_rank(F.col("__ntile_rank"), F.col("__ntile_n"), k),
        )
        .drop("__ntile_rank", "__ntile_n")
    )


def ntile_from_rank(r: Column, n: Column, k: int) -> Column:
    """ntile(k) bucket of global 1-based row_number ``r`` among ``n``
    rows — the exact Spark/DuckDB semantics (first n % k buckets get
    ceil(n/k) rows) as row-local arithmetic."""
    q = (n / k).cast("bigint")  # floor: n, k nonneg
    rem = n % k
    big_span = rem * (q + 1)  # rows living in the (q+1)-sized buckets
    bucket = F.when(r <= big_span, F.ceil(r / (q + 1))).otherwise(
        rem + F.ceil((r - big_span) / F.when(q > 0, q))
    )
    return bucket.cast("bigint")
