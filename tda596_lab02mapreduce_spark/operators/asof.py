"""As-of (backward-looking temporal) join — an operator the reference
cannot express in one MR pass (SURVEY.md §2B "Range / interval /
as-of join": hash partitioning is equality-only, mr/worker.go:82).

Implementation: the union + window ``last(ignorenulls)`` pattern.
Both inputs are tagged and unioned, then a single window partitioned
by the join keys and ordered by (ts, side-priority) carries the most
recent right-side payload forward onto each left row.

Scale: ONE shuffle on the join keys (the window partition), zero
range-explosion — the naive alternative (non-equi join ``l.ts >=
r.ts`` + argmax) is O(|L|·|R|) per key. Skewed keys are still one
partition each; for pathological key skew, pre-bucket ts into coarse
ranges first (documented tradeoff, not needed for fixture scale).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_payload: Sequence[str],
    *,
    tolerance: Column | None = None,
    how: str = "inner",
    direction: str = "backward",
) -> DataFrame:
    """For each ``left`` row, attach the payload of the latest
    ``right`` row with ``right.ts <= left.ts`` sharing the join keys
    (``direction="backward"``, the default), or of the EARLIEST right
    row with ``right.ts >= left.ts`` (``direction="forward"`` — the
    next-event attribution shape). Forward is the same one-shuffle
    union+window walk run in descending ts order; with a tolerance it
    drops matches further than ``left.ts + tolerance`` in the future.

    right_payload columns appear on the output prefixed ``asof_``.
    Right rows that share a key and a ts tie: which one matches is not
    specified, so callers keep (key, right ts) unique or pick a payload
    that agrees across ties. ``how`` is "inner" (drop unmatched) or
    "left" (keep with null payload).
    ``tolerance``: optional max age (Column interval or duration
    expression) — matches older than ``left.ts - tolerance`` drop.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    on = list(on)

    payload = F.struct(
        F.col(right_ts).cast("timestamp").alias("__ts"),
        *[F.col(c).alias(c) for c in right_payload],
    )
    # Right rows sort before left rows at equal ts (__prio 0 < 1) so an
    # exactly-simultaneous right row is a valid match.
    r = right.select(
        *[F.col(c) for c in on],
        F.col(right_ts).cast("timestamp").alias("__event_ts"),
        F.lit(0).alias("__prio"),
        payload.alias("__payload"),
    )
    l = left.select(  # noqa: E741
        "*",
        F.col(left_ts).cast("timestamp").alias("__event_ts"),
        F.lit(1).alias("__prio"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
    )
    left_cols = [c for c in left.columns]
    unioned = l.unionByName(r, allowMissingColumns=True)

    # Backward walks ascending ts; forward walks DESCENDING ts so the
    # carried payload is the nearest FUTURE right row. Right rows still
    # sort before left at equal ts (prio 0 first) — a simultaneous
    # right row matches in either direction.
    if direction == "nearest":
        # ONE ascending window pass computes BOTH sides (same single
        # shuffle as backward/forward): the backward candidate is the
        # running last() right payload, the forward candidate the
        # first() right payload in the tail frame; the pick is then
        # row-local arithmetic on the two gaps (ties -> backward, the
        # pandas merge_asof 'nearest' convention). A simultaneous
        # right row sorts before the left row, so it is the backward
        # candidate with gap 0 and wins outright.
        w_asc = Window.partitionBy(*on).orderBy(
            F.col("__event_ts").asc(), F.col("__prio").asc()
        )
        matched = unioned.withColumn(
            "__mb",
            F.last("__payload", ignorenulls=True).over(
                w_asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        ).withColumn(
            "__mf",
            F.first("__payload", ignorenulls=True).over(
                w_asc.rowsBetween(Window.currentRow, Window.unboundedFollowing)
            ),
        )
        out = matched.filter(F.col("__prio") == 1)
        if tolerance is not None:
            out = out.withColumn(
                "__mb",
                F.when(
                    F.col("__mb.__ts") >= F.col("__event_ts") - tolerance,
                    F.col("__mb"),
                ),
            ).withColumn(
                "__mf",
                F.when(
                    F.col("__mf.__ts") <= F.col("__event_ts") + tolerance,
                    F.col("__mf"),
                ),
            )
        gap_b = F.unix_micros(F.col("__event_ts")) - F.unix_micros(F.col("__mb.__ts"))
        gap_f = F.unix_micros(F.col("__mf.__ts")) - F.unix_micros(F.col("__event_ts"))
        out = out.withColumn(
            "__match",
            F.when(F.col("__mb").isNull(), F.col("__mf"))
            .when(F.col("__mf").isNull(), F.col("__mb"))
            .when(gap_b <= gap_f, F.col("__mb"))
            .otherwise(F.col("__mf")),
        )
        if how == "inner":
            out = out.filter(F.col("__match").isNotNull())
        sel = [F.col(c) for c in left_cols]
        sel.append(F.col("__match.__ts").alias(f"asof_{right_ts}"))
        sel.extend(F.col(f"__match.{c}").alias(f"asof_{c}") for c in right_payload)
        return out.select(*sel)

    ts_ord = (
        F.col("__event_ts").asc()
        if direction == "backward"
        else F.col("__event_ts").desc()
    )
    w = (
        Window.partitionBy(*on)
        .orderBy(ts_ord, F.col("__prio").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn("__match", F.last("__payload", ignorenulls=True).over(w))

    out = matched.filter(F.col("__prio") == 1)
    if tolerance is not None:
        in_range = (
            F.col("__match.__ts") >= F.col("__event_ts") - tolerance
            if direction == "backward"
            else F.col("__match.__ts") <= F.col("__event_ts") + tolerance
        )
        out = out.withColumn("__match", F.when(in_range, F.col("__match")))
    if how == "inner":
        out = out.filter(F.col("__match").isNotNull())
    sel = [F.col(c) for c in left_cols]
    sel.append(F.col("__match.__ts").alias(f"asof_{right_ts}"))
    sel.extend(F.col(f"__match.{c}").alias(f"asof_{c}") for c in right_payload)
    return out.select(*sel)
