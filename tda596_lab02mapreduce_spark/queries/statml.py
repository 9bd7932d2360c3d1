"""Statistical / ML-adjacent operators (SURVEY.md §2C extensions,
round 3): group-wise linear regression, winsorized robust stats, and
a Misra-Gries heavy-hitter sketch with an exact-output guarantee.

All three follow the repo's cross-engine exactness discipline: every
cross-row reduction happens in exact integer/decimal arithmetic (cents,
epoch seconds, counts) and floating-point enters only in a final,
identically-shaped expression both engines evaluate over identical
exact inputs — so the driver's value hash matches bitwise with no
tolerance band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import io
from tda596_lab02mapreduce_spark.registry import register

# Fixed regression epoch: 2024-01-01 00:00:00 UTC. Centering x keeps
# every exact sum (Sx, Sxx, Sxy ≤ ~1e21 at sf0.1) far inside both
# Spark's decimal(38) and DuckDB's HUGEINT.
_EPOCH0 = 1704067200


@register(
    "regr_slope_by_type",
    oracle=f"""
WITH pts AS (
  SELECT event_type,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS HUGEINT) - {_EPOCH0} AS x,
         CAST(ROUND(value * 100, 0) AS HUGEINT) AS y
  FROM events
),
s AS (
  SELECT event_type,
         CAST(count(*) AS HUGEINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM pts GROUP BY event_type
),
sl AS (
  SELECT event_type, n, sx, sy,
         CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
           AS slope
  FROM s
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       slope AS slope_cents_per_sec,
       (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
         AS intercept_cents
FROM sl
""",
    doc=(
        "Group-wise least-squares regression of event value (cents) on "
        "time (seconds since a fixed epoch): the trend-feature / drift-"
        "detection primitive. One partial+final aggregation computes the "
        "five power sums (n, Sx, Sy, Sxx, Sxy) EXACTLY — x is centered "
        "epoch seconds, y integer cents, sums in decimal(38)/HUGEINT — "
        "then slope = (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2) and the intercept "
        "are single identically-shaped double expressions over those "
        "exact integers, so both engines round identically (the "
        "agg_stats_moments 128-bit lesson applied to regression). "
        "Single shuffle on the group key; no second pass, no windows; "
        "built-in regr_slope is avoided precisely because its running "
        "double sums are fold-order-dependent across engines."
    ),
    tags=("agg", "stats"),
)
def regr_slope_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = io.load(spark, sf_dir, "events").select(
        "event_type",
        (F.col("ts").cast("long") - F.lit(_EPOCH0)).cast("decimal(18,0)").alias("x"),
        F.round(F.col("value") * 100, 0).cast("decimal(18,0)").alias("y"),
    )
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    sl = s.select("event_type", "n", "sx", "sy", (num / den).alias("slope"))
    return sl.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("slope").alias("slope_cents_per_sec"),
        (
            (F.col("sy").cast("double") - F.col("slope") * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept_cents"),
    )


@register(
    "winsorized_value_stats",
    oracle="""
WITH c AS (
  SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
r AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM c
),
bounds AS (
  SELECT event_type,
         min(n) AS n,
         min(CASE WHEN rn = CAST((n + 19) // 20 AS BIGINT) THEN cents END) AS lo,
         min(CASE WHEN rn = CAST((19 * n + 19) // 20 AS BIGINT) THEN cents END) AS hi
  FROM r GROUP BY event_type
)
SELECT c.event_type,
       CAST(min(b.n) AS BIGINT) AS n,
       CAST(min(b.lo) AS BIGINT) AS lo_cents,
       CAST(min(b.hi) AS BIGINT) AS hi_cents,
       CAST(SUM(CAST(least(greatest(c.cents, b.lo), b.hi) AS DECIMAL(38,0)))
            AS DOUBLE) / CAST(min(b.n) AS DOUBLE) AS winsorized_mean_cents
FROM c JOIN bounds b USING (event_type)
GROUP BY c.event_type
""",
    doc=(
        "Winsorized (clamped) robust mean per group: values below the "
        "5th / above the 95th percentile are clamped to those bounds "
        "before averaging — the outlier-robust companion to "
        "anomaly_zscore_events (z-scores FIND outliers; winsorization "
        "bounds their leverage on training statistics). Percentiles are "
        "exact ORDER STATISTICS (the k-th smallest cents value, k = "
        "ceil(q*n) by integer math), not interpolated quantiles — the "
        "multiset's k-th element is engine-independent even under ties, "
        "where interpolated double quantiles are not. Shape (round 8): "
        "the order statistics come from VALUE-grain per-(type, cents) "
        "counts run through functions.rank.grouped_rank_cumsum — an "
        "event_type-keyed row-grain window capped parallelism at 5 "
        "tasks — then a broadcast-back of per-group (lo, hi) bounds "
        "and one exact decimal clamp-sum; the global-sort-free "
        "analogue at 100 TB swaps the exact bounds for "
        "approx_percentile (inventory: stats_approx_quantiles)."
    ),
    tags=("agg", "stats", "window"),
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.rank import grouped_rank_cumsum

    c = io.load(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100, 0).cast("bigint").alias("cents")
    )
    vc = c.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("m"))
    g = grouped_rank_cumsum(
        vc,
        ["event_type"],
        ["cents"],
        [("cum", "m")],
        rank_col="__w_rn",
        # deterministic monotone bucket: ~2048-cent stripes of the
        # value domain — no sampling job, no checkpoint pin
        bucket_expr=F.floor(F.col("cents") / F.lit(2048)),
    )
    ntot = vc.groupBy("event_type").agg(F.sum("m").alias("n"))
    r = g.join(F.broadcast(ntot), "event_type")
    k_lo = ((F.col("n") + 19) / 20).cast("bigint")
    k_hi = ((19 * F.col("n") + 19) / 20).cast("bigint")
    # k-th smallest value = least cents whose cumulative count reaches k
    bounds = r.groupBy("event_type").agg(
        F.min("n").alias("n"),
        F.min(F.when(F.col("cum") >= k_lo, F.col("cents"))).alias("lo"),
        F.min(F.when(F.col("cum") >= k_hi, F.col("cents"))).alias("hi"),
    )
    clamped = c.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "n",
        "lo",
        "hi",
        F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
        .cast("decimal(38,0)")
        .alias("cl"),
    )
    return clamped.groupBy("event_type").agg(
        F.min("n").alias("n"),
        F.min("lo").alias("lo_cents"),
        F.min("hi").alias("hi_cents"),
        (F.sum("cl").cast("double") / F.min("n").cast("double")).alias(
            "winsorized_mean_cents"
        ),
    )


@register(
    "heavy_hitters_tokens",
    oracle=r"""
WITH t AS (
  SELECT word AS token FROM (
    SELECT unnest(string_split_regex(text, '[^\p{L}]+')) AS word FROM documents
  ) WHERE word <> ''
),
n AS (SELECT count(*) AS total FROM t)
SELECT token, CAST(count(*) AS BIGINT) AS cnt
FROM t, n
GROUP BY token, total
HAVING count(*) * 200 > total
""",
    doc=(
        "Distributed heavy hitters: every token with frequency > n/200, "
        "with EXACT counts, via a two-phase Misra-Gries sketch "
        "(Misra & Gries 1982; the summary-then-verify shape of "
        "count-min/space-saving deployments). Phase 1 is an Arrow-"
        "batched mapInPandas pass keeping K=200 decremented counters "
        "per batch — O(K) memory per task, no shuffle of the token "
        "stream; by the pigeonhole bound any token with global freq > "
        "n/(K+1) survives in >=1 batch summary, so the candidate union "
        "(a few hundred strings) provably contains every heavy hitter. "
        "Phase 2 broadcast-semi-joins the tiny candidate set against "
        "the token stream for exact counts and filters cnt*200 > n in "
        "integer math. Net shuffle: candidate tokens only — the full "
        "(word, count) exchange of wordcount never happens, which is "
        "the point at 100 TB where the distinct-token set itself is "
        "shuffle-hostile. Output is deterministic (exact counts, exact "
        "threshold), hence fully oracle-checkable against DuckDB's "
        "exact HAVING count(*)*200 > total."
    ),
    tags=("agg", "sketch", "text", "udf"),
)
def heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from tda596_lab02mapreduce_spark.functions.text import tokens_nonempty

    K = 200  # MG counters per batch; guarantee threshold is n/(K+1)

    docs = io.load(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(tokens_nonempty("text")).alias("token"))

    def mg_partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            counters: dict[str, int] = {}
            for tok in pdf["token"]:
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < K:
                    counters[tok] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
            yield pd.DataFrame({"token": list(counters.keys())})

    candidates = tokens.mapInPandas(mg_partial, "token string").distinct()
    total = tokens.count()
    exact = (
        tokens.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return exact.filter(F.col("cnt") * 200 > F.lit(total))


@register(
    "stats_column_profile",
    oracle="""
WITH p AS (
  SELECT
    CAST(count(*) - count(o_orderkey) AS BIGINT) AS k_nulls,
    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS k_distinct,
    CAST(min(o_orderkey) AS VARCHAR) AS k_min, CAST(max(o_orderkey) AS VARCHAR) AS k_max,
    CAST(count(*) - count(o_orderstatus) AS BIGINT) AS s_nulls,
    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS s_distinct,
    min(o_orderstatus) AS s_min, max(o_orderstatus) AS s_max,
    CAST(count(*) - count(o_totalprice) AS BIGINT) AS p_nulls,
    CAST(count(DISTINCT o_totalprice) AS BIGINT) AS p_distinct,
    CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS p_min,
    CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS p_max,
    CAST(count(*) - count(o_orderpriority) AS BIGINT) AS o_nulls,
    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS o_distinct,
    min(o_orderpriority) AS o_min, max(o_orderpriority) AS o_max
  FROM orders
)
SELECT 'o_orderkey' AS col, k_nulls AS n_nulls, k_distinct AS n_distinct, k_min AS min_s, k_max AS max_s FROM p
UNION ALL
SELECT 'o_orderstatus', s_nulls, s_distinct, s_min, s_max FROM p
UNION ALL
SELECT 'o_totalprice', p_nulls, p_distinct, p_min, p_max FROM p
UNION ALL
SELECT 'o_orderpriority', o_nulls, o_distinct, o_min, o_max FROM p
""",
    doc=(
        "Data-profiling operator (the ingest-time health check every "
        "training pipeline runs before trusting a new drop): per-column "
        "null count, exact distinct count, and min/max, computed in ONE "
        "scan of the table and unpivoted to a row per column. Multiple "
        "exact COUNT(DISTINCT) aggregates plan as a single Expand — a "
        "deliberate, documented cost (rows × profiled columns); the "
        "approx_count_distinct swap drops the Expand when estimates "
        "suffice at open scale. Numeric min/max rendered through "
        "DECIMAL(18,2) before stringifying so both engines format "
        "identically; column set is fixed — profiling 100 TB never "
        "requires schema inference."
    ),
    tags=("agg", "stats"),
)
def stats_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = io.load(spark, sf_dir, "orders")
    n = F.count(F.lit(1))

    def prof(c, render):
        return [
            (n - F.count(F.col(c))).alias(f"{c}__nulls"),
            F.countDistinct(F.col(c)).alias(f"{c}__distinct"),
            render(F.min(F.col(c))).alias(f"{c}__min"),
            render(F.max(F.col(c))).alias(f"{c}__max"),
        ]

    as_str = lambda x: x.cast("string")  # noqa: E731
    as_dec = lambda x: x.cast("decimal(18,2)").cast("string")  # noqa: E731
    agg = od.agg(
        *prof("o_orderkey", as_str),
        *prof("o_orderstatus", as_str),
        *prof("o_totalprice", as_dec),
        *prof("o_orderpriority", as_str),
    )
    rows = [
        F.struct(
            F.lit(c).alias("col"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_s"),
            F.col(f"{c}__max").alias("max_s"),
        )
        for c in ("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    ]
    return agg.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# Spearman rank correlation (round-6 widening)
# ---------------------------------------------------------------------------

@register(
    "spearman_value_vs_hour",
    oracle=f"""
WITH pts AS (
  SELECT event_type,
         CAST(ROUND(value * 100, 0) AS HUGEINT) AS x,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS HUGEINT) % 86400 AS y
  FROM events
),
rk AS (
  SELECT event_type,
         2 * rank() OVER (PARTITION BY event_type ORDER BY x)
           + count(*) OVER (PARTITION BY event_type, x) - 1 AS rx,
         2 * rank() OVER (PARTITION BY event_type ORDER BY y)
           + count(*) OVER (PARTITION BY event_type, y) - 1 AS ry
  FROM pts
),
s AS (
  SELECT event_type,
         CAST(count(*) AS HUGEINT) AS n,
         SUM(rx) AS sx, SUM(ry) AS sy,
         SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy,
         SUM(rx * ry) AS sxy
  FROM rk GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)) AS spearman_rho
FROM s
""",
    doc=(
        "Group-wise Spearman rank correlation between event value "
        "(cents) and time-of-day (epoch second mod 86400): the "
        "monotone-dependence screen feature pipelines run before "
        "trusting a linear model. Tie handling is the textbook "
        "average-rank convention kept INTEGER by doubling: for a tie "
        "group of size g starting at rank r, 2*avg_rank = 2r + g - 1, "
        "computed from rank() plus a per-(group,value) count window. "
        "Pearson over the doubled ranks then uses exact HUGEINT/decimal "
        "power sums; floating point is one final expression whose only "
        "irrational op is sqrt — IEEE-correctly-rounded in both "
        "engines, unlike the transcendentals quarantined in "
        "scalar_math_libm. Two rank windows + one group-by shuffle, "
        "all on the event_type key."
    ),
    tags=("agg", "stats", "window"),
)
def spearman_value_vs_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.rank import grouped_rank_cumsum

    ev = io.load(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("decimal(18,0)").alias("x"),
        (F.col("ts").cast("long") % 86400).cast("decimal(18,0)").alias("y"),
    )

    # doubled midrank 2·rank + ties − 1 = 2·cum_before + m + 1, built
    # from VALUE-grain (type, v, m) counts via the grouped distributed
    # cumsum (an event_type-keyed row-grain rank window would cap
    # parallelism at 5 tasks — the keyed window trap), then joined back
    # to rows on the (type, value) key — an ordinary parallel equi-join
    def rank2_map(col: str) -> DataFrame:
        vc = pts.groupBy("event_type", col).agg(F.count(F.lit(1)).alias("m"))
        g = grouped_rank_cumsum(
            vc,
            ["event_type"],
            [col],
            [("cum", "m")],
            rank_col="__s_rn",
            # both rank domains are nonneg integers (cents / seconds of
            # day): 2048-wide stripes are a deterministic monotone bucket
            bucket_expr=F.floor(F.col(col) / F.lit(2048)),
        )
        return g.select(
            "event_type",
            F.col(col),
            (2 * (F.col("cum") - F.col("m")) + F.col("m") + 1)
            .cast("decimal(18,0)")
            .alias(f"r2_{col}"),
        )

    rk = (
        pts.join(rank2_map("x"), ["event_type", "x"])
        .join(rank2_map("y"), ["event_type", "y"])
        .select(
            "event_type",
            F.col("r2_x").alias("rx"),
            F.col("r2_y").alias("ry"),
        )
    )
    s = rk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        (num / F.sqrt(dx * dy)).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Join-key discovery profile (round-6 widening)
# ---------------------------------------------------------------------------

# Candidate (fact-column, dim-column) pairs to profile. Fixed list: at
# 100 TB you profile the cataloged candidates, never all column pairs.
_KEY_PAIRS: tuple[tuple[str, str, str, str, str], ...] = (
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("events.user_id->customer.c_custkey", "events", "user_id", "customer", "c_custkey"),
)


def _pair_profile_sql(name: str, lt: str, lc: str, rt: str, rc: str) -> str:
    return f"""
SELECT '{name}' AS pair,
       CAST(count(lk) AS BIGINT) AS n_left,
       CAST(count(rk) AS BIGINT) AS n_right,
       CAST(count(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL THEN 1 END) AS BIGINT)
         AS n_inter,
       CAST(count(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL THEN 1 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS jaccard,
       CAST(count(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL THEN 1 END) AS DOUBLE)
         / CAST(count(lk) AS DOUBLE) AS containment_left
FROM (SELECT DISTINCT {lc} AS lk FROM {lt}) l
FULL OUTER JOIN (SELECT DISTINCT {rc} AS rk FROM {rt}) r ON l.lk = r.rk
"""


@register(
    "profile_join_keys",
    oracle="\nUNION ALL\n".join(
        _pair_profile_sql(*p) for p in _KEY_PAIRS
    ),
    doc=(
        "Join-key discovery / dataset-search profiling (the Aurum-style "
        "'which columns join?' primitive): for each cataloged candidate "
        "column pair, exact distinct cardinalities, intersection size, "
        "Jaccard similarity, and left-containment (the foreign-key "
        "signal: containment ~1 means every fact key resolves). One "
        "distinct-reduce per column then a keys-only full outer join — "
        "payload columns never move, so each probe shuffles only the "
        "key cardinality regardless of table size; with |union| rows "
        "after the join, Jaccard = inter/count(*) needs no third "
        "aggregate. Candidate list is fixed metadata: profiling at "
        "100 TB scales with key cardinality, not row count."
    ),
    tags=("join", "stats", "agg"),
)
def profile_join_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for name, lt, lc, rt, rc in _KEY_PAIRS:
        left = io.load(spark, sf_dir, lt).select(F.col(lc).alias("lk")).distinct()
        right = io.load(spark, sf_dir, rt).select(F.col(rc).alias("rk")).distinct()
        j = left.join(right, left.lk == right.rk, "full_outer")
        inter = F.count(F.when(F.col("lk").isNotNull() & F.col("rk").isNotNull(), 1))
        prof = j.agg(
            F.count("lk").alias("n_left"),
            F.count("rk").alias("n_right"),
            inter.alias("n_inter"),
            (inter.cast("double") / F.count(F.lit(1)).cast("double")).alias("jaccard"),
            (inter.cast("double") / F.count("lk").cast("double")).alias(
                "containment_left"
            ),
        ).select(F.lit(name).alias("pair"), "*")
        out = prof if out is None else out.unionAll(prof)
    return out


# ---------------------------------------------------------------------------
# MAD robust outliers (round-6 widening)
# ---------------------------------------------------------------------------

def _dblmed(df: DataFrame, key: str, val: str, out: str) -> DataFrame:
    """Per-``key`` DOUBLED median of integer column ``val``: lo + hi of
    the R-7 median order statistics — always an exact integer (equal to
    2·quantile_cont(val, 0.5)), so no float interpolation ever happens.
    Histogram (partial+final count on (key, value)) + one cumulative
    window: state bounded by distinct values per key, the same shape as
    stats_exact_quantiles."""
    from pyspark.sql.window import Window

    counts = df.groupBy(key, val).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy(key).orderBy(val)
    wn = Window.partitionBy(key)
    r = counts.select(
        key,
        val,
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wn).alias("n"),
    )
    lo_rank = F.floor((F.col("n") - 1) / 2) + 1
    hi_rank = F.floor(F.col("n") / 2) + 1
    return r.groupBy(key).agg(
        (
            F.min(F.when(F.col("cum") >= lo_rank, F.col(val)))
            + F.min(F.when(F.col("cum") >= hi_rank, F.col(val)))
        ).alias(out)
    )


@register(
    "anomaly_mad_events",
    oracle="""
WITH c AS (
  SELECT event_id, event_type,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
m AS (
  SELECT event_type,
         CAST(2 * quantile_cont(CAST(cents AS DOUBLE), 0.5) AS BIGINT) AS dm
  FROM c GROUP BY event_type
),
dev AS (
  SELECT c.event_id, c.event_type, c.cents,
         abs(2 * c.cents - m.dm) AS d
  FROM c JOIN m USING (event_type)
),
mad AS (
  SELECT event_type,
         CAST(2 * quantile_cont(CAST(d AS DOUBLE), 0.5) AS BIGINT) AS dmad
  FROM dev GROUP BY event_type
)
SELECT dev.event_id, dev.event_type, dev.cents, dev.d, mad.dmad,
       CAST(20000 * dev.d AS DOUBLE) / CAST(14826 * mad.dmad AS DOUBLE)
         AS robust_z
FROM dev JOIN mad USING (event_type)
WHERE 20000 * dev.d > 44478 * mad.dmad
""",
    doc=(
        "Robust outlier detection via median absolute deviation — the "
        "heavy-tail-safe twin of anomaly_zscore_events (a single wild "
        "value shifts a mean/stddev gate but not a median/MAD one). "
        "Flags events with |x − median| > 3 · 1.4826 · MAD per type. "
        "Everything is integer until the report: medians are computed "
        "DOUBLED (lo + hi of the R-7 order statistics — an exact "
        "integer, no interpolation), deviations are |2x − 2m|, the MAD "
        "is doubled again, and the 3·1.4826 gate becomes the pure "
        "integer comparison 20000·d > 44478·dmad (1.4826 = "
        "14826/10000); only the reported robust_z divides. Two "
        "histogram+window median passes (value-bounded state, the "
        "stats_exact_quantiles shape) with the tiny per-type stats "
        "joined back — at 100 TB both medians remain "
        "two-shuffle-per-pass with no per-group value buffering."
    ),
    tags=("agg", "stats", "anomaly"),
)
def anomaly_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.load(spark, sf_dir, "events")
    c = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    m = _dblmed(c, "event_type", "cents", "dm")
    dev = c.join(F.broadcast(m), "event_type").select(
        "event_id",
        "event_type",
        "cents",
        F.abs(2 * F.col("cents") - F.col("dm")).alias("d"),
    )
    mad = _dblmed(dev, "event_type", "d", "dmad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(20000 * F.col("d") > 44478 * F.col("dmad"))
        .select(
            "event_id",
            "event_type",
            "cents",
            "d",
            "dmad",
            (
                (20000 * F.col("d")).cast("double")
                / (14826 * F.col("dmad")).cast("double")
            ).alias("robust_z"),
        )
    )


_K_ANON = 8


@register(
    "privacy_k_anonymity",
    oracle=f"""
SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n,
       count(*) < {_K_ANON} AS is_risky
FROM customer
GROUP BY c_nationkey, c_mktsegment
""",
    doc=(
        "k-anonymity audit over the quasi-identifier pair "
        "(nation, market segment): group sizes with a re-identification "
        "flag for cohorts smaller than k=8 — the privacy gate a "
        "training-data release runs before shipping user-derived "
        "features (a cohort of <k members is linkable; the remedy is "
        "generalization or suppression of those rows). One "
        "partial+final count on the quasi-identifier key; the flag is "
        "an integer compare, so the report is hash-exact. At 100 TB "
        "the QI cardinality (not row count) bounds the report."
    ),
    tags=("agg", "quality"),
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = io.load(spark, sf_dir, "customer")
    return (
        cust.groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("nationkey", "segment", "n", (F.col("n") < _K_ANON).alias("is_risky"))
    )


# ---------------------------------------------------------------------------
# Weighted median + chi-square independence (round-6 widening)
# ---------------------------------------------------------------------------

@register(
    "weighted_median_price",
    oracle="""
WITH pts AS (
  SELECT l_returnflag AS flag,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         CAST(ROUND(l_quantity, 0) AS BIGINT) AS w
  FROM lineitem
),
hist AS (
  SELECT flag, cents, SUM(w) AS wv FROM pts GROUP BY flag, cents
),
cum AS (
  SELECT flag, cents,
         SUM(wv) OVER (PARTITION BY flag ORDER BY cents) AS cw,
         SUM(wv) OVER (PARTITION BY flag) AS tw
  FROM hist
)
SELECT flag,
       CAST(min(CASE WHEN 2 * cw >= tw THEN cents END)
            + min(CASE WHEN 2 * cw > tw THEN cents END) AS BIGINT) AS dbl_wmed_c,
       CAST(max(tw) AS BIGINT) AS total_weight
FROM cum GROUP BY flag
""",
    doc=(
        "Quantity-weighted median price per return flag — the "
        "order-statistic generalization where each row counts w times "
        "(the 'median unit price actually transacted'). Doubled-median "
        "convention over cumulative WEIGHTS: lo = smallest value whose "
        "cumulative weight reaches half the total, hi = smallest value "
        "strictly past half; lo+hi is an exact integer, so the result "
        "hash-matches with zero float ops. Weights stay integer "
        "(TPC-H quantities are integral — asserted by the cents "
        "rounding). Same value-histogram + cumulative-window shape as "
        "stats_exact_quantiles: state bounded by distinct prices per "
        "flag, never a per-group value buffer."
    ),
    tags=("agg", "stats", "window"),
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = io.load(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents"),
        F.round(F.col("l_quantity"), 0).cast("bigint").alias("w"),
    )
    hist = pts.groupBy("flag", "cents").agg(F.sum("w").alias("wv"))
    w = Window.partitionBy("flag").orderBy("cents")
    wn = Window.partitionBy("flag")
    cum = hist.select(
        "flag",
        "cents",
        F.sum("wv").over(w).alias("cw"),
        F.sum("wv").over(wn).alias("tw"),
    )
    return cum.groupBy("flag").agg(
        (
            F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("cents")))
            + F.min(F.when(2 * F.col("cw") > F.col("tw"), F.col("cents")))
        ).alias("dbl_wmed_c"),
        F.max("tw").alias("total_weight"),
    )


@register(
    "stats_chi2_type_hour",
    oracle="""
WITH cells AS (
  SELECT event_type,
         (CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) % 86400) // 14400
           AS bucket,
         CAST(count(*) AS HUGEINT) AS o
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, bucket, o,
         SUM(o) OVER (PARTITION BY event_type) AS rt,
         SUM(o) OVER (PARTITION BY bucket) AS ct,
         SUM(o) OVER () AS n
  FROM cells
),
terms AS (
  SELECT CAST((o * n - rt * ct) * (o * n - rt * ct) AS DOUBLE)
           / CAST((n * rt) * ct AS DOUBLE) AS t
  FROM tot
),
s AS (
  SELECT list_reduce(list(t ORDER BY t), (a, b) -> a + b) AS tsum FROM terms
),
meta AS (
  SELECT CAST(max(n) AS BIGINT) AS n_rows,
         (count(DISTINCT event_type) - 1) * (count(DISTINCT bucket) - 1) AS dof
  FROM tot
)
SELECT CAST(s.tsum AS DOUBLE) AS chi2,
       CAST(meta.dof AS BIGINT) AS dof,
       meta.n_rows AS n_events
FROM s, meta
""",
    doc=(
        "Chi-square independence test of event type vs time-of-day "
        "bucket (6 four-hour buckets) — the drift/association screen "
        "between a categorical feature and time. Contingency counts, "
        "row/column totals, and the per-cell numerator (o·N − rt·ct)² "
        "are all EXACT integers (HUGEINT/decimal); each cell's term "
        "becomes a double only in the final identically-shaped "
        "division, and the cross-cell sum — the one place float "
        "addition order could diverge — is made deterministic by "
        "folding the terms in SORTED order (array_sort + sequential "
        "aggregate in Spark, list(ORDER BY) + list_reduce in DuckDB). "
        "chi2 = Σ(o·N−rt·ct)²/(N·rt·ct) — each term algebraically "
        "equals (o−e)²/e, so the sorted-fold sum IS the statistic. "
        "One count shuffle + windows on a 30-cell table."
    ),
    tags=("agg", "stats"),
)
def stats_chi2_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = io.load(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            (((F.col("ts").cast("long") % 86400) / 14400).cast("bigint")).alias(
                "bucket"
            ),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).cast("decimal(20,0)").alias("o"))
    )
    # grand total rides a broadcast 1-row aggregate; the two marginals
    # stay keyed windows over the 30-cell table
    gn = cells.agg(F.sum("o").alias("n"))
    tot = cells.select(
        "event_type",
        "bucket",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("rt"),
        F.sum("o").over(Window.partitionBy("bucket")).alias("ct"),
    ).crossJoin(F.broadcast(gn))
    num = (F.col("o") * F.col("n") - F.col("rt") * F.col("ct"))
    term = (num * num).cast("double") / (
        (F.col("n") * F.col("rt")) * F.col("ct")
    ).cast("double")
    terms = tot.select(
        term.alias("t"),
        F.col("n").cast("bigint").alias("n_rows"),
        "event_type",
        "bucket",
    )
    agg = terms.groupBy().agg(
        F.aggregate(
            F.array_sort(F.collect_list("t")), F.lit(0.0), lambda a, b: a + b
        ).alias("tsum"),
        F.max("n_rows").alias("n_rows"),
        (
            (F.count_distinct("event_type") - 1) * (F.count_distinct("bucket") - 1)
        ).alias("dof"),
    )
    return agg.select(
        F.col("tsum").alias("chi2"),
        F.col("dof").cast("bigint").alias("dof"),
        F.col("n_rows").alias("n_events"),
    )


# Benford expected first-digit frequencies as integer ppm literals —
# round(log10(1 + 1/d) * 1e6), precomputed so neither engine evaluates
# a transcendental (the scalar_math_libm divergence class).
_BENFORD_PPM: tuple[tuple[int, int], ...] = (
    (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
    (6, 66947), (7, 57992), (8, 51153), (9, 45757),
)


@register(
    "benford_first_digit",
    oracle=f"""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice > 0
),
cnt AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n,
         SUM(count(*)) OVER () AS total
  FROM d GROUP BY digit
),
exp AS (SELECT * FROM (VALUES {", ".join(f"({d}, {p})" for d, p in _BENFORD_PPM)})
        AS t(digit, exp_ppm))
SELECT c.digit, c.n,
       CAST(1000000 * c.n // c.total AS BIGINT) AS obs_ppm,
       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
       CAST(1000000 * c.n // c.total - e.exp_ppm AS BIGINT) AS excess_ppm
FROM cnt c JOIN exp e ON c.digit = e.digit
""",
    doc=(
        "Benford's-law first-digit screen over order totals — the "
        "fraud / synthetic-data / unit-mixing detector (organically "
        "grown monetary amounts follow log10(1+1/d); fabricated or "
        "re-scaled ones don't). First digits come from the decimal "
        "string of integer cents (no log10 at runtime — the expected "
        "frequencies are precomputed integer-ppm literals shared by "
        "both engines, sidestepping the libm-divergence class), "
        "observed shares are integer ppm by floor division, and the "
        "report is one digit-keyed count plus a 9-row literal join — "
        "fully float-free. TPC-H totals are sums of uniform prices, "
        "NOT Benford-distributed; the screen's job is to REPORT the "
        "excess, and here it does, loudly."
    ),
    tags=("agg", "stats", "quality"),
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = io.load(spark, sf_dir, "orders")
    d = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    # total rides a broadcast 1-row aggregate over the ≤ 9 digit rows
    digits = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    cnt = digits.crossJoin(F.broadcast(digits.agg(F.sum("n").alias("total"))))
    exp = F.broadcast(
        cnt.sparkSession.createDataFrame(
            list(_BENFORD_PPM), "digit int, exp_ppm bigint"
        )
    )
    obs_ppm = F.expr("1000000L * n div total")
    return (
        cnt.join(exp, "digit")
        .select(
            "digit",
            "n",
            obs_ppm.cast("bigint").alias("obs_ppm"),
            F.col("exp_ppm").cast("bigint").alias("exp_ppm"),
            (obs_ppm - F.col("exp_ppm")).cast("bigint").alias("excess_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# ROC AUC + calibration (round-8 widening: the model-eval band)
# ---------------------------------------------------------------------------

@register(
    "roc_auc_priority_price",
    oracle="""
WITH scored AS (
  SELECT CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS score,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS pos
  FROM orders
), by_score AS (
  SELECT score,
         CAST(SUM(pos) AS HUGEINT) AS c_pos,
         CAST(count(*) AS HUGEINT) AS c_all
  FROM scored GROUP BY score
), cum AS (
  SELECT c_pos, c_all,
         SUM(c_all) OVER (ORDER BY score) AS cum_all
  FROM by_score
), s AS (
  SELECT SUM(c_pos * (2 * cum_all - c_all + 1)) AS s2,
         SUM(c_pos) AS n_pos,
         SUM(c_all - c_pos) AS n_neg
  FROM cum
)
SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       CAST(round(CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
                  / CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS DOUBLE) AS auc
FROM s
""",
    doc=(
        "ROC AUC of 'order price predicts urgent/high priority' via "
        "the Mann-Whitney U identity: AUC = (S_pos − n_pos(n_pos+1)/2)"
        " / (n_pos·n_neg) where S_pos is the rank-sum of positives "
        "under AVERAGE ranks for ties — the model-eval statistic every "
        "training pipeline reports, computed exactly without ever "
        "materializing per-row ranks.  Ties are structural (the score "
        "is price in integer thousands, ~490 distinct values over 15k "
        "rows), and the midrank stays INTEGER by doubling: for a score "
        "group of size g ending at inclusive cumulative count c, "
        "2·midrank = 2c − g + 1, so S2 = Σ c_pos·(2c−g+1) is an exact "
        "BIGINT sum and floating point is ONE final division rounded "
        "6 dp.  The score-grain cumulative counts run through "
        "functions.rank's deterministic-bucket cumsum (score div 16 "
        "stripes — no sampling job, no partition-less window): score "
        "cardinality is unbounded for a real model's float scores, so "
        "the keyed-window shortcut would be the 100 TB trap.  One "
        "groupBy shuffle + the bucketed cumsum; no per-row state."
    ),
    tags=("agg", "stats", "window", "llm"),
)
def roc_auc_priority_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.rank import global_rank_cumsum

    orders = io.load(spark, sf_dir, "orders")
    scored = orders.select(
        F.floor(F.col("o_totalprice") / F.lit(1000.0)).cast("bigint").alias("score"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int").alias("pos"),
    )
    by_score = scored.groupBy("score").agg(
        F.sum("pos").alias("c_pos"), F.count(F.lit(1)).alias("c_all")
    )
    cum = global_rank_cumsum(
        by_score,
        ["score"],
        [("cum_all", "c_all")],
        rank_col="__auc_rn",
        bucket_expr=F.floor(F.col("score") / F.lit(16)),
    )
    s = cum.agg(
        F.sum(
            F.col("c_pos") * (2 * F.col("cum_all") - F.col("c_all") + 1)
        ).alias("s2"),
        F.sum("c_pos").alias("n_pos"),
        F.sum(F.col("c_all") - F.col("c_pos")).alias("n_neg"),
    )
    return s.select(
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        F.round(
            (F.col("s2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
            6,
        ).alias("auc"),
    )


@register(
    "calibration_reliability_bins",
    oracle="""
WITH scored AS (
  SELECT CAST(round(1.0 / (1.0 + exp(-(o_totalprice - 250000.0) / 50000.0)), 8)
              AS DECIMAL(18, 8)) AS p,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS pos
  FROM orders
)
SELECT LEAST(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(round(CAST(SUM(p) AS DOUBLE) / count(*), 6) AS DOUBLE) AS mean_pred,
       CAST(round(CAST(SUM(pos) AS DOUBLE) / count(*), 6) AS DOUBLE) AS frac_pos
FROM scored GROUP BY bin ORDER BY bin
""",
    doc=(
        "Reliability-diagram bins for a logistic score of order price "
        "against the urgent/high label: per-decile-of-predicted-"
        "probability (n, positives, mean prediction, observed rate) — "
        "the calibration table every model-eval pipeline pairs with "
        "AUC (AUC ranks, calibration checks the probabilities "
        "themselves).  The sigmoid is rounded to 8 dp into an exact "
        "DECIMAL at the row level, so the per-bin mean is an order-"
        "independent decimal sum divided once (the repo's standard "
        "cross-engine float discipline); exp() is IEEE-stable here "
        "because both engines evaluate the IDENTICAL double argument "
        "(price − 250000)/50000 and libm exp agrees to well past 8 dp "
        "on this range — the same tolerance argument scalar_math_libm "
        "pins.  One scan, one groupBy over ≤ 10 bins; trivially "
        "map-side-combined at any scale."
    ),
    tags=("agg", "stats", "llm"),
)
def calibration_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = io.load(spark, sf_dir, "orders")
    p = F.round(
        F.lit(1.0)
        / (F.lit(1.0) + F.exp(-(F.col("o_totalprice") - 250000.0) / 50000.0)),
        8,
    ).cast("decimal(18,8)")
    scored = orders.select(
        p.alias("p"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int").alias("pos"),
    )
    return (
        scored.groupBy(
            F.least(F.floor(F.col("p") * 10).cast("bigint"), F.lit(9)).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.round(
                F.sum("p").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_pred"),
            F.round(
                F.sum("pos").cast("double") / F.count(F.lit(1)), 6
            ).alias("frac_pos"),
        )
        .orderBy("bin")
    )


@register(
    "feature_scale_normalize",
    oracle="""
WITH pts AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), by_val AS (
  SELECT event_type, c, CAST(count(*) AS BIGINT) AS cnt
  FROM pts GROUP BY event_type, c
), cum AS (
  SELECT event_type, c, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum_cnt
  FROM by_val
), stats AS (
  SELECT event_type,
         SUM(cnt) AS n,
         SUM(CAST(c AS HUGEINT) * cnt) AS s,
         SUM(CAST(c AS HUGEINT) * c * cnt) AS ss,
         min(c) AS mn, max(c) AS mx
  FROM by_val GROUP BY event_type
)
SELECT v.event_type, v.c AS cents, v.cnt AS n_rows,
       CASE WHEN mx = mn THEN CAST(0.0 AS DOUBLE)
            ELSE CAST(round(CAST(n * v.c - s AS DOUBLE)
                       / sqrt(CAST(n * ss - s * s AS DOUBLE)), 6) AS DOUBLE)
       END AS zscore,
       CASE WHEN mx = mn THEN CAST(0.0 AS DOUBLE)
            ELSE CAST(round(CAST(v.c - mn AS DOUBLE) / (mx - mn), 6) AS DOUBLE)
       END AS minmax,
       CASE WHEN n = 1 THEN CAST(0.0 AS DOUBLE)
            ELSE CAST(round(CAST(cum_cnt - v.cnt AS DOUBLE) / (n - 1), 6)
                      AS DOUBLE)
       END AS pct_rank
FROM cum v JOIN stats USING (event_type)
""",
    doc=(
        "Per-group feature scaling table — the three normalizations a "
        "training pipeline applies before mixing features: z-score, "
        "min-max, and percent_rank of event value within its "
        "event_type, all at (group, distinct-value) grain.  Exactness "
        "discipline: value moves to integer cents, so n, Σc, Σc² are "
        "exact integer aggregates and z = (n·c − S)/√(n·Σc² − S²) — "
        "the mean/std fraction cleared of intermediate float division "
        "— is ONE division + one correctly-rounded sqrt on identical "
        "operands in both engines; min-max and percent_rank are single "
        "integer-ratio divisions (percent_rank's min-rank comes from "
        "the cumulative count minus the tie group, Spark/DuckDB's "
        "exact percent_rank semantics).  The value-grain cumulative "
        "counts run through the grouped distributed cumsum with cent-"
        "stripe buckets — the 5-value event_type key would otherwise "
        "cap the pass at 5 tasks over millions of distinct values "
        "(the keyed-window ceiling), and the moment/extrema pass is "
        "one map-side-combined aggregate."
    ),
    tags=("agg", "stats", "window", "llm"),
)
def feature_scale_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.rank import grouped_rank_cumsum

    ev = io.load(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )
    by_val = pts.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    dec = "decimal(38,0)"
    stats = by_val.groupBy("event_type").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("c").cast(dec) * F.col("cnt")).alias("s"),
        F.sum(F.col("c").cast(dec) * F.col("c") * F.col("cnt")).alias("ss"),
        F.min("c").alias("mn"),
        F.max("c").alias("mx"),
    )
    cum = grouped_rank_cumsum(
        by_val,
        ["event_type"],
        ["c"],
        [("cum_cnt", "cnt")],
        rank_col="__fs_rn",
        bucket_expr=F.floor(F.col("c") / F.lit(65536)),
    )
    n, s, ss = F.col("n").cast(dec), F.col("s"), F.col("ss")
    # degenerate-stratum guards (ADVICE r8 #4): an all-equal-value
    # group (mx = mn, which includes every singleton) zeroes the
    # z-score and min-max denominators, and a singleton group (n = 1)
    # zeroes pct_rank's (n - 1) — NaN/NULL would propagate where real
    # pipelines expect "this feature carries no signal here", so the
    # degenerate scalings are defined as 0.0, symmetrically in the
    # oracle.
    degenerate = F.col("mx") == F.col("mn")
    return (
        cum.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            F.col("c").alias("cents"),
            F.col("cnt").alias("n_rows"),
            F.when(degenerate, F.lit(0.0))
            .otherwise(
                F.round(
                    (n * F.col("c") - s).cast("double")
                    / F.sqrt((n * ss - s * s).cast("double")),
                    6,
                )
            )
            .alias("zscore"),
            F.when(degenerate, F.lit(0.0))
            .otherwise(
                F.round(
                    (F.col("c") - F.col("mn")).cast("double")
                    / (F.col("mx") - F.col("mn")),
                    6,
                )
            )
            .alias("minmax"),
            F.when(F.col("n") == 1, F.lit(0.0))
            .otherwise(
                F.round(
                    (F.col("cum_cnt") - F.col("cnt")).cast("double")
                    / (F.col("n") - 1),
                    6,
                )
            )
            .alias("pct_rank"),
        )
    )


@register(
    "quantile_transform_value",
    oracle="""
WITH pts AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), by_val AS (
  SELECT event_type, c, CAST(count(*) AS BIGINT) AS cnt
  FROM pts GROUP BY event_type, c
), ng AS (
  SELECT event_type, SUM(cnt) AS n_g FROM by_val GROUP BY event_type
), cum AS (
  SELECT event_type, c, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum_cnt
  FROM by_val
), pooled AS (
  SELECT c, SUM(cnt) AS cntp FROM by_val GROUP BY c
), cump AS (
  SELECT c, cntp, SUM(cntp) OVER (ORDER BY c) AS cump_cnt FROM pooled
), tot AS (SELECT SUM(cntp) AS n FROM pooled),
grid AS (SELECT unnest(range(0, 101)) AS i),
gpos AS (
  SELECT i, (i * (n - 1)) // 100 AS lo, ((i * (n - 1)) % 100) AS rem
  FROM grid, tot
), vlo AS (
  SELECT i, min(c) AS v_lo FROM gpos JOIN cump ON cump_cnt >= lo + 1
  GROUP BY i
), vhi AS (
  SELECT g.i, min(c) AS v_hi FROM gpos g
  JOIN cump ON cump_cnt >= lo + CASE WHEN rem > 0 THEN 2 ELSE 1 END
  GROUP BY g.i
), qgrid AS (
  SELECT g.i,
         CAST(round(v_lo + (rem / 100.0) * (v_hi - v_lo), 6) AS DOUBLE)
           AS q_cents
  FROM gpos g JOIN vlo ON vlo.i = g.i JOIN vhi ON vhi.i = g.i
), mapped AS (
  SELECT v.event_type, v.c, v.cnt, (v.cum_cnt - v.cnt) AS r0, n_g
  FROM cum v JOIN ng USING (event_type)
)
SELECT event_type, c AS cents, cnt AS n_rows,
       CASE WHEN n_g = 1 THEN CAST(0.0 AS DOUBLE)
            ELSE CAST(round(CAST(r0 AS DOUBLE) / (n_g - 1), 6) AS DOUBLE)
       END AS pct_rank,
       q_cents AS q_norm_cents
FROM mapped
JOIN qgrid ON qgrid.i = CASE WHEN n_g = 1 THEN 50
                             ELSE (200 * r0 + (n_g - 1)) // (2 * (n_g - 1))
                        END
""",
    doc=(
        "Distributed QuantileTransformer (the sklearn preprocessing "
        "op, exactly): every event value is replaced by the POOLED "
        "distribution's quantile at the value's within-group "
        "percent_rank — the cross-source score calibration that makes "
        "quality scores comparable between corpora before a mixing "
        "decision.  The reference grid is the standard trick that "
        "makes this scale: instead of a per-row order-statistic "
        "lookup (a range join against the full pooled CDF), the "
        "pooled distribution is reduced to 101 exact R-7 grid "
        "quantiles (i*(N−1) kept in INTEGER arithmetic — div/mod 100, "
        "so the floor can never flip on a float ulp), each found by a "
        "broadcast containment join against the pooled cumulative "
        "counts; rows then map to their grid point by half-up integer "
        "rounding j = (200·r0 + (n_g−1)) div (2(n_g−1)) and hit a "
        "101-row broadcast.  Group and pooled cumulative counts both "
        "run through the deterministic-bucket distributed cumsum "
        "(value-grain, cent stripes).  Floats touch only the final "
        "interpolation v_lo + frac·(v_hi−v_lo) and the reported "
        "6-dp rounds — frac is an exact m/100."
    ),
    tags=("agg", "stats", "window", "llm"),
)
def quantile_transform_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.rank import (
        global_rank_cumsum,
        grouped_rank_cumsum,
    )

    ev = io.load(spark, sf_dir, "events")
    pts = ev.select(
        "event_type", F.round(F.col("value") * 100, 0).cast("bigint").alias("c")
    )
    by_val = pts.groupBy("event_type", "c").agg(F.count(F.lit(1)).alias("cnt"))
    ng = by_val.groupBy("event_type").agg(F.sum("cnt").alias("n_g"))
    cum = grouped_rank_cumsum(
        by_val,
        ["event_type"],
        ["c"],
        [("cum_cnt", "cnt")],
        rank_col="__qt_rn",
        bucket_expr=F.floor(F.col("c") / F.lit(65536)),
    )
    pooled = by_val.groupBy("c").agg(F.sum("cnt").alias("cntp"))
    cump = global_rank_cumsum(
        pooled,
        ["c"],
        [("cump_cnt", "cntp")],
        rank_col="__qtp_rn",
        bucket_expr=F.floor(F.col("c") / F.lit(65536)),
    ).select("c", "cntp", "cump_cnt")
    tot = pooled.agg(F.sum("cntp").alias("n"))
    gpos = (
        spark.range(101)
        .select(F.col("id").cast("bigint").alias("i"))
        .crossJoin(F.broadcast(tot))
        .select(
            "i",
            F.expr("(i * (n - 1)) div 100").alias("lo"),
            F.pmod(F.col("i") * (F.col("n") - 1), F.lit(100)).alias("rem"),
        )
    )
    # each grid index lives inside exactly ONE pooled value's cumulative
    # range — a 101-row broadcast containment join, not a CDF range join
    def order_stat(idx_col: F.Column, out: str) -> DataFrame:
        return (
            gpos.withColumn("__idx", idx_col)
            .join(
                cump,
                (F.col("__idx") >= F.col("cump_cnt") - F.col("cntp"))
                & (F.col("__idx") <= F.col("cump_cnt") - 1),
            )
            .select("i", F.col("c").alias(out))
        )

    vlo = order_stat(F.col("lo"), "v_lo")
    vhi = order_stat(
        F.col("lo") + F.when(F.col("rem") > 0, 1).otherwise(0), "v_hi"
    )
    qgrid = (
        gpos.join(vlo, "i")
        .join(vhi, "i")
        .select(
            "i",
            F.round(
                F.col("v_lo")
                + (F.col("rem") / F.lit(100.0)) * (F.col("v_hi") - F.col("v_lo")),
                6,
            ).alias("q_cents"),
        )
    )
    mapped = cum.join(F.broadcast(ng), "event_type").select(
        "event_type",
        "c",
        "cnt",
        (F.col("cum_cnt") - F.col("cnt")).alias("r0"),
        "n_g",
    )
    # singleton-group guard (ADVICE r8 #4): for n_g = 1 both the
    # pct_rank divisor (n_g - 1) and the grid-index denominator
    # 2·(n_g - 1) are zero — the NULL __j would silently DROP the
    # group's rows at the inner join instead of reporting them.
    # Define the degenerate stratum as pct_rank = 0 at the median grid
    # point (j = 50), symmetrically in the oracle.
    j = F.when(F.col("n_g") == 1, F.lit(50).cast("bigint")).otherwise(
        F.expr("(200 * r0 + (n_g - 1)) div (2 * (n_g - 1))")
    )
    return (
        mapped.withColumn("__j", j)
        .join(F.broadcast(qgrid), F.col("__j") == F.col("i"))
        .select(
            "event_type",
            F.col("c").alias("cents"),
            F.col("cnt").alias("n_rows"),
            F.when(F.col("n_g") == 1, F.lit(0.0))
            .otherwise(
                F.round(F.col("r0").cast("double") / (F.col("n_g") - 1), 6)
            )
            .alias("pct_rank"),
            F.col("q_cents").alias("q_norm_cents"),
        )
    )


@register(
    "anomaly_burstiness_users",
    oracle="""
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
), s AS (
  SELECT user_id,
         CAST(count(gap) AS BIGINT) AS n_gaps,
         SUM(CAST(gap AS HUGEINT)) AS sg,
         SUM(CAST(gap AS HUGEINT) * gap) AS sgg
  FROM g WHERE gap IS NOT NULL
  GROUP BY user_id HAVING count(gap) >= 5
)
SELECT user_id, n_gaps,
       CAST(floor(CAST(sg AS DOUBLE) / n_gaps) AS BIGINT) AS mean_gap_us,
       CAST(round(sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE))
                  / CAST(sg AS DOUBLE), 6) AS DOUBLE) AS cv,
       CAST(sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE))
            / CAST(sg AS DOUBLE) < 0.9 AS BOOLEAN) AS is_regular
FROM s
""",
    doc=(
        "Inter-arrival burstiness screen (bot detection): per user, "
        "the coefficient of variation of event inter-arrival gaps — "
        "Poisson-like human traffic has CV ≈ 1, schedulers and bots "
        "sit well below (too regular), bursty scripted replays well "
        "above.  Gaps are exact integer microseconds from one "
        "user-keyed lag window (user grain is huge at scale — the "
        "GOOD kind of keyed window); CV = √(n·Σg² − S²)/S keeps the "
        "moment sums in exact DECIMAL(38,0) (gap² at month scale "
        "overflows BIGINT) and touches floats only in one sqrt + one "
        "division of identical operands — so the is_regular flag "
        "can never disagree between engines.  The mean is reported as "
        "FLOOR-integer microseconds: a 6-dp round at 1e10 magnitude "
        "exceeds double's 15 significant digits, so the engines' round "
        "implementations diverge in the last ulp (caught by the hash "
        "gate on first registration).  Users with <5 gaps are "
        "excluded (CV of a handful of gaps is noise, and the "
        "pipeline's decision would be no-signal anyway)."
    ),
    tags=("agg", "stats", "window", "anomaly"),
)
def anomaly_burstiness_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = io.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    g = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    dec = "decimal(38,0)"
    s = (
        g.groupBy("user_id")
        .agg(
            F.count("gap").alias("n_gaps"),
            F.sum(F.col("gap").cast(dec)).alias("sg"),
            F.sum(F.col("gap").cast(dec) * F.col("gap")).alias("sgg"),
        )
        .filter(F.col("n_gaps") >= 5)
    )
    cv = F.sqrt(
        (F.col("n_gaps").cast(dec) * F.col("sgg") - F.col("sg") * F.col("sg")).cast(
            "double"
        )
    ) / F.col("sg").cast("double")
    return s.select(
        "user_id",
        "n_gaps",
        F.floor(F.col("sg").cast("double") / F.col("n_gaps"))
        .cast("bigint")
        .alias("mean_gap_us"),
        F.round(cv, 6).alias("cv"),
        (cv < 0.9).alias("is_regular"),
    )


@register(
    "decision_split_gain",
    oracle="""
WITH pts AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS c,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
), by_val AS (
  SELECT c, CAST(count(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
  FROM pts GROUP BY c
), cum AS (
  SELECT c, cnt, pos,
         SUM(cnt) OVER (ORDER BY c) AS n_le,
         SUM(pos) OVER (ORDER BY c) AS pos_le
  FROM by_val
), tot AS (SELECT SUM(cnt) AS n, SUM(pos) AS p FROM by_val)
SELECT c AS threshold_cents,
       CAST(n_le AS BIGINT) AS n_le,
       CAST(pos_le AS BIGINT) AS pos_le,
       CAST((n - n_le) * (n_le * n_le - pos_le * pos_le
              - (n_le - pos_le) * (n_le - pos_le))
            + n_le * ((n - n_le) * (n - n_le)
              - (p - pos_le) * (p - pos_le)
              - ((n - n_le) - (p - pos_le)) * ((n - n_le) - (p - pos_le)))
         AS DECIMAL(38,0)) AS gini_num,
       CAST(n * n_le * (n - n_le) AS DECIMAL(38,0)) AS gini_den,
       -- identical op tree to the Spark side: div, div, add, 2/n, mult
       (2.0 / CAST(n AS DOUBLE)) *
       (CAST(CAST(pos_le * (n_le - pos_le) AS BIGINT) AS DOUBLE)
          / CAST(n_le AS DOUBLE)
        + CAST(CAST((p - pos_le) * ((n - n_le) - (p - pos_le)) AS BIGINT)
            AS DOUBLE) / CAST(n - n_le AS DOUBLE))
         AS gini_split
FROM cum, tot
WHERE n_le < n
""",
    doc=(
        "Decision-tree split scan (the CART/XGBoost inner loop, "
        "distributed): for EVERY candidate threshold c of the value "
        "feature, the weighted Gini impurity of the (x ≤ c | x > c) "
        "split predicting event_type='purchase' — the full gain curve, "
        "from which a tree builder takes the argmin.  One value-grain "
        "aggregation + ONE cent-striped distributed cumsum produce "
        "(n_le, pos_le) for all thresholds simultaneously — the "
        "classic sorted-prefix-sum split finder, never a per-threshold "
        "pass.  Exactness: the weighted impurity is kept as an exact "
        "integer fraction w = [nR·(nL²−pL²−qL²) + nL·(nR²−pR²−qR²)] / "
        "(N·nL·nR) (qX = negatives) in DECIMAL(38,0) on BOTH engines "
        "(r15: the documented decimal swap applied — BIGINT wrapped "
        "silently in Spark at ~3e6-row inputs while DuckDB's HUGEINT "
        "raised, the cart.py ADVICE divergence class; exact to ~5.8e12 "
        "rows now), and gini_split is the algebraically equal "
        "(2/N)·(pL·qL/nL + pR·qR/nR) — int64 operands only, every "
        "conversion correctly rounded in both engines for EVERY int64, "
        "so the double is bit-identical cross-engine up to the "
        "pX·qX ≤ N²/4 < 2^63 product bound (N ≤ 6e9 rows) rather than "
        "the old 2^53 magnitude caveat.  Degenerate one-sided splits "
        "(n_le = N) are excluded: their impurity is the root's, gain "
        "0 by construction."
    ),
    tags=("stats", "agg", "window", "llm"),
)
def decision_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.rank import global_rank_cumsum

    ev = io.load(spark, sf_dir, "events")
    pts = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    by_val = pts.groupBy("c").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    cum = global_rank_cumsum(
        by_val,
        ["c"],
        [("n_le", "cnt"), ("pos_le", "pos")],
        rank_col="__sg_rn",
        bucket_expr=F.floor(F.col("c") / F.lit(65536)),
    )
    tot = F.broadcast(
        by_val.agg(F.sum("cnt").alias("n"), F.sum("pos").alias("p"))
    )
    j = cum.crossJoin(tot).filter(F.col("n_le") < F.col("n"))
    nL, pL = F.col("n_le"), F.col("pos_le")
    nR = F.col("n") - nL
    pR = F.col("p") - pL
    qL = nL - pL
    qR = nR - pR
    # r15: the documented decimal(38) swap APPLIED (the cart.py ADVICE
    # fix, same divergence class): the O(n³) fraction is DECIMAL(38,0)
    # in both engines (BIGINT wrapped silently in Spark at ~3e6 rows
    # while DuckDB's HUGEINT raised on the CAST), and gini_split is
    # the algebraically equal (2/n)·(pL·qL/nL + pR·qR/nR) — int64
    # operands only, every conversion correctly rounded in both
    # engines for EVERY int64, so the double stays bit-identical
    # cross-engine up to the pX·qX ≤ n²/4 < 2^63 product bound
    # (n ≤ 6e9 rows) instead of the old 2^53 magnitude caveat.
    dec = "decimal(38,0)"
    nLd, pLd = nL.cast(dec), pL.cast(dec)
    nd, pd = F.col("n").cast(dec), F.col("p").cast(dec)
    nRd, pRd = nd - nLd, pd - pLd
    qLd, qRd = nLd - pLd, nRd - pRd
    num = nRd * (nLd * nLd - pLd * pLd - qLd * qLd) + nLd * (
        nRd * nRd - pRd * pRd - qRd * qRd
    )
    den = nd * nLd * nRd
    split = (F.lit(2.0) / F.col("n").cast("double")) * (
        (pL * qL).cast("double") / nL.cast("double")
        + (pR * qR).cast("double") / nR.cast("double")
    )
    # loud int64-product guard (cart.py's _EXACT_KEY_MAX_N contract,
    # curve edition — this query has no driver collect to hang a check
    # on, so the guard rides an OUTPUT column and fires per partition
    # at scan time instead of letting pX·qX wrap silently; r15 review)
    from tda596_lab02mapreduce_spark.operators.cart import (
        _EXACT_KEY_MAX_N,
    )

    # the guard rides gini_split ITSELF — the column whose int64
    # products it protects — so no downstream projection can prune the
    # raise_error away from the contract (ADVICE r15 low: hanging it
    # on n_le let a gini_split-only consumer drop the loud-overflow
    # promise via column pruning)
    split_guarded = F.when(
        F.col("n") > F.lit(_EXACT_KEY_MAX_N),
        F.raise_error(
            F.lit(
                "decision_split_gain: input rows exceed "
                f"_EXACT_KEY_MAX_N={_EXACT_KEY_MAX_N}; the "
                "gini_split int64 products pX*qX can overflow "
                "past n^2/4 = 2^63 — pre-aggregate or sample "
                "before the split scan (loud, never silent wrap)"
            )
        ).cast("double"),
    ).otherwise(split)
    return j.select(
        F.col("c").alias("threshold_cents"),
        nL.cast("bigint").alias("n_le"),
        pL.cast("bigint").alias("pos_le"),
        num.cast(dec).alias("gini_num"),
        den.cast(dec).alias("gini_den"),
        split_guarded.alias("gini_split"),
    )


def _cart_oracle():
    from tda596_lab02mapreduce_spark.operators.cart import CART_ORACLE

    return CART_ORACLE


@register(
    "tree_depth2_priority",
    oracle=_cart_oracle,
    doc=(
        "Fixed-depth-2 CART classifier GROWN from the "
        "decision_split_gain machinery — the TREE member of the "
        "trained-model family (r13 verdict #1; logistic = GLM, NB = "
        "generative, kmeans = centroidal, BPE = tokenizer, ALS = "
        "factorization). Per node the best split is the argmin "
        "weighted-Gini threshold over BOTH integer features (price "
        "bucket, order month) vs the urgent/high label: one "
        "feature-value-grain aggregate + one per-feature prefix "
        "cumsum gives every candidate's impurity as an exact "
        "DECIMAL(38,0) fraction (r15: BIGINT wrapped at ~3e6-row "
        "nodes); the argmin key is the equivalent two-term form "
        "pL*qL/nL + pR*qR/nR — int64 divisions, bit-identical "
        "cross-engine, guarded loudly at the 6e9-row design limit — "
        "with a deterministic (feature, threshold) tiebreak — root "
        "via TakeOrderedAndProject, the sibling level batched into "
        "one tagged scan with a per-node row_number argmin (r16 "
        "optimization; identical selected rows) — exactly 3 collected "
        "rows grow the whole tree (the NB bounded-driver-traffic "
        "discipline). "
        "Output: the 7-row tree table (heap numbering; split rows "
        "carry feature/threshold/Gini fraction, leaf rows carry "
        "majority-class pred + counts, so accuracy = Σ max(pos, "
        "n-pos) / N is derivable and compared against the GLM's in "
        "tests/test_cart.py). The full growth replays in the "
        "unrolled-CTE oracle (operators/cart.py:CART_ORACLE). "
        "Near-chance accuracy is the honest expected result on the "
        "synthetic fixture (priorities are random) — the gate checks "
        "the GROWTH algebra, not the data. At 100 TB: the melt is "
        "map-side, the cumsum state is domain-bounded (≤ 24 "
        "feature-value rows), driver traffic is O(1)."
    ),
    tags=("statml", "agg", "ml"),
)
def tree_depth2_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.operators.cart import cart_depth2_tree

    return cart_depth2_tree(spark, sf_dir)


def _cart_heldout_oracle():
    from tda596_lab02mapreduce_spark.operators.cart import (
        CART_HELDOUT_ORACLE,
    )

    return CART_HELDOUT_ORACLE


@register(
    "tree_depth2_heldout_confusion",
    oracle=_cart_heldout_oracle,
    doc=(
        "Held-out EVALUATION of the depth-2 CART (fit/EVAL symmetry — "
        "the recsys_als_heldout_sse / roc_auc_logistic_score "
        "discipline applied to the tree): deterministic md5 fold on "
        "o_orderkey (fold 0 = test of 5), the tree GROWN on the train "
        "fold only, then every UNSEEN test row routed through the "
        "grown splits to its leaf and scored with the train leaf's "
        "majority class — rolled up to the held-out confusion matrix "
        "(y_true, pred, n_orders), <=4 rows of exact BIGINT counts. "
        "The leaf predictions stay IN-PLAN (4-row train-leaf "
        "aggregate broadcast-joined to the routed test rows); only "
        "the 3 split rows are collected, so split + growth + routing "
        "+ rollup all hash-replay in the unrolled oracle "
        "(operators/cart.py:CART_HELDOUT_ORACLE). Near-chance "
        "held-out accuracy is the honest fixture expectation; "
        "fold disjointness and train-fit/test-score separation are "
        "pinned in tests/test_cart.py."
    ),
    tags=("statml", "agg", "ml"),
)
def tree_depth2_heldout_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from tda596_lab02mapreduce_spark.operators.cart import (
        cart_heldout_confusion,
    )

    return cart_heldout_confusion(spark, sf_dir)


def _cart3_oracle():
    from tda596_lab02mapreduce_spark.operators.cart import CART3_ORACLE

    return CART3_ORACLE


@register(
    "tree_depth3_priority",
    oracle=_cart3_oracle,
    doc=(
        "Depth-3 CART (r14 verdict #5: the growth loop GENERALIZES — "
        "2^k−1 collected split rows, not a depth-2 special case): "
        "same feature frame, argmin rule, DECIMAL(38,0) impurity "
        "fractions, two-term int64 key, and loud degenerate/overflow "
        "contracts as tree_depth2_priority, grown one level deeper. "
        "Output: the 15-row heap tree table (7 split rows with exact "
        "Gini fractions, 8 majority-class leaves); exactly 7 rows "
        "ever reach the driver. The full 3-level growth replays in "
        "the unrolled-CTE oracle (operators/cart.py:CART3_ORACLE — 7 "
        "node scans, 6 child partitions, one leaf aggregate). "
        "Fixture non-degeneracy at depth 3 is verified at every gate "
        "SF (tests/test_cart.py). At 100 TB: unchanged posture — "
        "map-side melts over domain-bounded feature-value grids, "
        "O(2^k) driver rows."
    ),
    tags=("statml", "agg", "ml"),
)
def tree_depth3_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.operators.cart import cart_depth3_tree

    return cart_depth3_tree(spark, sf_dir)


def _boost_oracle():
    from tda596_lab02mapreduce_spark.operators.boost import BOOST_ORACLE

    return BOOST_ORACLE


@register(
    "tree_boosted_stumps",
    oracle=_boost_oracle,
    doc=(
        "Boosted depth-1 stumps — the ENSEMBLE member of the "
        "trained-model family (r14 verdict #1): 3 rounds of "
        "boosting-by-integer-reweighting over the CART split "
        "machinery (operators/cart.py:_best_split with a weight "
        "column). Round t selects the argmin weighted-Gini stump on "
        "the current integer weights (ONE collected row/round), its "
        "leaves vote ±1 (weighted majority, ties → −1), and every "
        "misclassified row's weight multiplies by K=3; the final "
        "classifier is the sign of the 3-stump vote sum. Weights "
        "stay exact integers (w ∈ {1,3,9}) so every weighted count "
        "is BIGINT and the whole trajectory — scans, votes, "
        "reweights, confusion — replays in the unrolled-CTE oracle "
        "(operators/boost.py:BOOST_ORACLE). Output: 3 stump rows "
        "(round, feature, threshold, weighted totals, votes) + the "
        "unweighted train confusion matrix. Label = mid-price-band "
        "indicator — an interval a single stump provably cannot "
        "express while the 3-vote ensemble can (the fixture has no "
        "cross-column signal; the gate grades the boosting algebra); "
        "ensemble 1.00 vs single-stump 0.82 train accuracy pinned "
        "beside CART's and the GLM's in tests/test_boost.py. At "
        "100 TB: map-side melts at bounded feature-value grain, "
        "1-row broadcast reweights, O(rounds) driver traffic."
    ),
    tags=("statml", "agg", "ml"),
)
def tree_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.operators.boost import boosted_stumps

    return boosted_stumps(spark, sf_dir)


def _boost_heldout_oracle():
    from tda596_lab02mapreduce_spark.operators.boost import (
        BOOST_HELDOUT_ORACLE,
    )

    return BOOST_HELDOUT_ORACLE


@register(
    "tree_boosted_heldout_confusion",
    oracle=_boost_heldout_oracle,
    doc=(
        "Held-out EVALUATION of the boosted stumps (fit/EVAL symmetry "
        "— the cart_heldout_confusion / recsys_als_heldout_sse "
        "discipline applied to the ensemble): deterministic md5 fold "
        "on o_orderkey (fold 0 = test of 5, cart.py's fold), the 3 "
        "stumps boosted on the TRAIN fold only (weights never see "
        "test rows), then every unseen test row scored by the sign "
        "of the 3-stump vote sum — rolled up to the held-out "
        "confusion matrix (y_true, pred, n_orders), ≤4 rows of exact "
        "BIGINT counts. Test scoring is a pure map-side projection "
        "of the 3 collected stump literals; the whole trajectory "
        "(fold split, 3 weighted scans, 2 reweights, test routing) "
        "replays in the unrolled-CTE oracle (operators/boost.py:"
        "BOOST_HELDOUT_ORACLE). The interval target is deterministic "
        "in x1, so near-perfect held-out accuracy is the honest "
        "expectation when the train fold covers the bucket domain — "
        "the gate grades the fold/boost/route algebra."
    ),
    tags=("statml", "agg", "ml"),
)
def tree_boosted_heldout_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from tda596_lab02mapreduce_spark.operators.boost import (
        boosted_heldout_confusion,
    )

    return boosted_heldout_confusion(spark, sf_dir)


@register(
    "pr_curve_thresholds",
    oracle="""
WITH pts AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS c,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
), by_val AS (
  SELECT c, CAST(count(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
  FROM pts GROUP BY c
), cum AS (
  SELECT c, cnt, pos,
         SUM(cnt) OVER (ORDER BY c) AS n_le,
         SUM(pos) OVER (ORDER BY c) AS pos_le
  FROM by_val
), tot AS (SELECT SUM(cnt) AS n, SUM(pos) AS p FROM by_val)
SELECT c AS threshold_cents,
       CAST(p - pos_le + pos AS BIGINT) AS tp,
       CAST((n - n_le + cnt) - (p - pos_le + pos) AS BIGINT) AS fp,
       CAST(CAST(p - pos_le + pos AS DOUBLE)
            / CAST(n - n_le + cnt AS DOUBLE) AS DOUBLE) AS precision,
       CAST(CAST(p - pos_le + pos AS DOUBLE) / CAST(p AS DOUBLE) AS DOUBLE)
         AS recall,
       CAST(CAST(2 * (p - pos_le + pos) AS DOUBLE)
            / CAST((n - n_le + cnt) + p AS DOUBLE) AS DOUBLE) AS f1
FROM cum, tot
""",
    doc=(
        "Precision-recall curve over EVERY distinct score threshold "
        "(predict positive when score ≥ c): tp/fp counts by suffix "
        "sums derived from the same cent-striped prefix cumsum the "
        "split scan uses (tp = P − pos_le + pos_at_c — inclusive "
        "suffix from inclusive prefix), precision/recall/F1 each ONE "
        "double division of exact integer operands — bit-identical "
        "across engines, no rounding band, and F1's 2·tp/(pred+P) "
        "form never materializes the precision·recall intermediate.  "
        "Completes the model-eval band (roc_auc = threshold-free "
        "ranking quality, calibration = probability quality, this = "
        "the operating-point picker).  Score-grain state throughout: "
        "unbounded-cardinality-safe, no per-row ranks, no "
        "partition-less window."
    ),
    tags=("stats", "agg", "window"),
)
def pr_curve_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.rank import global_rank_cumsum

    ev = io.load(spark, sf_dir, "events")
    pts = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    by_val = pts.groupBy("c").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    cum = global_rank_cumsum(
        by_val,
        ["c"],
        [("n_le", "cnt"), ("pos_le", "pos")],
        rank_col="__pr_rn",
        bucket_expr=F.floor(F.col("c") / F.lit(65536)),
    )
    tot = F.broadcast(
        by_val.agg(F.sum("cnt").alias("n"), F.sum("pos").alias("p"))
    )
    j = cum.crossJoin(tot)
    tp = F.col("p") - F.col("pos_le") + F.col("pos")
    pred = F.col("n") - F.col("n_le") + F.col("cnt")
    return j.select(
        F.col("c").alias("threshold_cents"),
        tp.cast("bigint").alias("tp"),
        (pred - tp).cast("bigint").alias("fp"),
        (tp.cast("double") / pred.cast("double")).alias("precision"),
        (tp.cast("double") / F.col("p").cast("double")).alias("recall"),
        ((2 * tp).cast("double") / (pred + F.col("p")).cast("double")).alias("f1"),
    )


@register(
    "regr_multi_ols",
    oracle="""
WITH pts AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100, 0) AS HUGEINT) AS y,
         CAST(round(l_quantity, 0) AS HUGEINT) AS x1,
         CAST(round(l_discount * 100, 0) AS HUGEINT) AS x2
  FROM lineitem
), s AS (
  SELECT l_returnflag,
         CAST(count(*) AS HUGEINT) AS n,
         SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
         SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12, SUM(x2 * x2) AS s22,
         SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
  FROM pts GROUP BY l_returnflag
), d AS (
  SELECT l_returnflag, n,
         CAST(n AS DOUBLE) AS fn, CAST(s1 AS DOUBLE) AS f1,
         CAST(s2 AS DOUBLE) AS f2, CAST(sy AS DOUBLE) AS fy,
         CAST(s11 AS DOUBLE) AS f11, CAST(s12 AS DOUBLE) AS f12,
         CAST(s22 AS DOUBLE) AS f22, CAST(s1y AS DOUBLE) AS f1y,
         CAST(s2y AS DOUBLE) AS f2y
  FROM s
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       (fy * (f11 * f22 - f12 * f12) - f1 * (f1y * f22 - f12 * f2y)
          + f2 * (f1y * f12 - f11 * f2y))
         / (fn * (f11 * f22 - f12 * f12) - f1 * (f1 * f22 - f12 * f2)
          + f2 * (f1 * f12 - f11 * f2)) AS b0_cents,
       (fn * (f1y * f22 - f12 * f2y) - fy * (f1 * f22 - f12 * f2)
          + f2 * (f1 * f2y - f1y * f2))
         / (fn * (f11 * f22 - f12 * f12) - f1 * (f1 * f22 - f12 * f2)
          + f2 * (f1 * f12 - f11 * f2)) AS b1_cents_per_qty,
       (fn * (f11 * f2y - f1y * f12) - f1 * (f1 * f2y - f1y * f2)
          + fy * (f1 * f12 - f11 * f2))
         / (fn * (f11 * f22 - f12 * f12) - f1 * (f1 * f22 - f12 * f2)
          + f2 * (f1 * f12 - f11 * f2)) AS b2_cents_per_discpt
FROM d
""",
    doc=(
        "Group-wise MULTIVARIATE least squares (two features + "
        "intercept, per return flag): price-in-cents regressed on "
        "quantity and discount points via the normal equations — the "
        "closed-form distributed regression that needs exactly ONE "
        "partial+final aggregation to compute the 9 power sums (n, "
        "Σx1, Σx2, Σy, Σx1², Σx1x2, Σx2², Σx1y, Σx2y) EXACTLY in "
        "integer arithmetic (decimal(38,0) Spark / HUGEINT DuckDB), "
        "then a 3×3 Cramer solve in doubles.  The float tail is "
        "deterministic across engines because both evaluate the "
        "IDENTICAL expression tree over identical exact operands "
        "(cast-to-double of equal integers is equal; IEEE ops on "
        "equal inputs are equal) — no rounding band, no tolerance.  "
        "This is the map-side-combine regression pattern (X'X "
        "aggregation) every feature pipeline uses before reaching for "
        "an iterative solver; at 100 TB it is a single shuffle of "
        "9 numbers per group."
    ),
    tags=("stats", "agg", "llm"),
)
def regr_multi_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    pts = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast(dec).alias("y"),
        F.round(F.col("l_quantity"), 0).cast(dec).alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast(dec).alias("x2"),
    )
    s = pts.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    fn = F.col("n").cast("double")
    f1 = F.col("s1").cast("double")
    f2 = F.col("s2").cast("double")
    fy = F.col("sy").cast("double")
    f11 = F.col("s11").cast("double")
    f12 = F.col("s12").cast("double")
    f22 = F.col("s22").cast("double")
    f1y = F.col("s1y").cast("double")
    f2y = F.col("s2y").cast("double")
    det = (
        fn * (f11 * f22 - f12 * f12)
        - f1 * (f1 * f22 - f12 * f2)
        + f2 * (f1 * f12 - f11 * f2)
    )
    det0 = (
        fy * (f11 * f22 - f12 * f12)
        - f1 * (f1y * f22 - f12 * f2y)
        + f2 * (f1y * f12 - f11 * f2y)
    )
    det1 = (
        fn * (f1y * f22 - f12 * f2y)
        - fy * (f1 * f22 - f12 * f2)
        + f2 * (f1 * f2y - f1y * f2)
    )
    det2 = (
        fn * (f11 * f2y - f1y * f12)
        - f1 * (f1 * f2y - f1y * f2)
        + fy * (f1 * f12 - f11 * f2)
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        (det0 / det).alias("b0_cents"),
        (det1 / det).alias("b1_cents_per_qty"),
        (det2 / det).alias("b2_cents_per_discpt"),
    )


# Poisson(1) inverse-CDF thresholds on the 32-bit md5-prefix uniform:
# cum(k) * 2^32 as 8-char lowercase hex, k = 0..7 (weight caps at 8,
# P(w > 8) < 1.2e-6). The SAME literals appear in the Spark when-chain
# and the DuckDB CASE — the cross-engine determinism is the literal
# equality of these strings, nothing numeric.
_POIS1_CUM_HEX = (
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797",
    "ff1025f5", "ffd90f3b", "fffa8b71", "ffff540c",
)


def _pois1_case_sql(h: str) -> str:
    clauses = " ".join(
        f"WHEN {h} < '{t}' THEN {k}" for k, t in enumerate(_POIS1_CUM_HEX)
    )
    return f"CASE {clauses} ELSE 8 END"


@register(
    "bootstrap_mean_ci",
    oracle=f"""
WITH pts AS (
  SELECT event_type, event_id, CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), reps AS (
  SELECT event_type, c,
         unnest(range(0, 32)) AS b
  FROM pts
), w AS (
  SELECT event_type, b, c,
         {_pois1_case_sql("substr(md5('boot' || CAST(b AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)), 1, 8)")} AS w
  FROM (SELECT event_type, event_id, c, unnest(range(0, 32)) AS b FROM pts)
), bm AS (
  SELECT event_type, b,
         CAST(SUM(w * c) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS mean_b
  FROM w GROUP BY event_type, b
), base AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_cents
  FROM pts GROUP BY event_type
)
SELECT base.event_type, n, mean_cents,
       list_sort(list(mean_b))[2] AS boot_lo,
       list_sort(list(mean_b))[31] AS boot_hi
FROM bm JOIN base USING (event_type)
GROUP BY base.event_type, n, mean_cents
""",
    doc=(
        "Poisson bootstrap confidence interval for the per-group mean "
        "— THE distributed bootstrap (resampling-with-replacement is "
        "a driver-side loop; per-row independent Poisson(1) weights "
        "are its provably-equivalent map-side form, designed for "
        "map-reduce): 32 replicates, each row's replicate weight "
        "drawn by inverse CDF over the 32-bit uniform from "
        "md5('boot'‖b‖':'‖event_id) — the repo's md5-family "
        "determinism, so BOTH engines draw the identical weights from "
        "identical hex-literal thresholds and the whole randomized "
        "procedure is hash-checked end-to-end, not tolerance-waved.  "
        "boot_lo/boot_hi are the 2nd/31st order statistics of the 32 "
        "replicate means (a ~94% percentile interval); each replicate "
        "mean is ONE double division of exact integer sums, and the "
        "32-element sort is row-local.  Scale shape: the 32× explode "
        "is the textbook cost, all downstream state is "
        "(group × replicate) grain."
    ),
    tags=("stats", "agg", "sampling"),
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.load(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )
    reps = pts.select(
        "event_type",
        "event_id",
        "c",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
    )
    h = F.substring(
        F.md5(
            F.concat(
                F.lit("boot"),
                F.col("b").cast("string"),
                F.lit(":"),
                F.col("event_id").cast("string"),
            )
        ),
        1,
        8,
    )
    wcol = None
    for k, t in enumerate(_POIS1_CUM_HEX):
        cond = h < F.lit(t)
        wcol = F.when(cond, k) if wcol is None else wcol.when(cond, k)
    wcol = wcol.otherwise(8)
    w = reps.select("event_type", "b", "c", wcol.alias("w"))
    bm = w.groupBy("event_type", "b").agg(
        (
            F.sum(F.col("w") * F.col("c")).cast("double")
            / F.sum("w").cast("double")
        ).alias("mean_b")
    )
    base = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("c").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mean_cents"
        ),
    )
    return (
        bm.join(F.broadcast(base), "event_type")
        .groupBy("event_type", "n", "mean_cents")
        .agg(
            F.element_at(F.array_sort(F.collect_list("mean_b")), 2).alias("boot_lo"),
            F.element_at(F.array_sort(F.collect_list("mean_b")), 31).alias("boot_hi"),
        )
    )


@register(
    "privacy_l_diversity",
    oracle="""
WITH g AS (
  SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT))
              AS BIGINT) AS l_sensitive
  FROM customer
  GROUP BY c_nationkey, c_mktsegment
)
SELECT nationkey, segment, n, l_sensitive,
       l_sensitive < 4 AS is_homogeneous
FROM g
""",
    doc=(
        "l-diversity audit — k-anonymity's necessary complement "
        "(Machanavajjhala et al.): a cohort can be large (k-anonymous) "
        "yet still leak if every member shares the SAME sensitive "
        "value, so each quasi-identifier cohort (nation, segment) "
        "must contain at least l=4 distinct sensitive values (account-"
        "balance bands of 2000 currency units; band/threshold probed "
        "non-vacuous — 9 of 125 cohorts fire at the correctness SF, "
        "and the larger sf0.1 cohorts all pass, the audit's expected "
        "steady state on clean data).  One partial+final "
        "aggregate with a count-distinct on the banded sensitive "
        "attribute; the homogeneity flag is an integer compare, "
        "hash-exact.  Like the k-anonymity report, output size is "
        "bounded by QI cardinality, never row count — the audit "
        "costs one scan at any scale."
    ),
    tags=("agg", "quality"),
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = io.load(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 2000).cast("bigint")
    return (
        cust.groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(band).alias("l_sensitive"),
        )
        .select(
            "nationkey",
            "segment",
            "n",
            "l_sensitive",
            (F.col("l_sensitive") < 4).alias("is_homogeneous"),
        )
    )


@register(
    "stats_covariance_matrix",
    oracle="""
WITH pts AS (
  SELECT CAST(round(l_quantity, 0) AS HUGEINT) AS q,
         CAST(round(l_extendedprice * 100, 0) AS HUGEINT) AS p,
         CAST(round(l_discount * 100, 0) AS HUGEINT) AS d,
         CAST(round(l_tax * 100, 0) AS HUGEINT) AS t
  FROM lineitem
), s AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         SUM(q) AS sq, SUM(p) AS sp, SUM(d) AS sd, SUM(t) AS st,
         SUM(q*q) AS sqq, SUM(q*p) AS sqp, SUM(q*d) AS sqd, SUM(q*t) AS sqt,
         SUM(p*p) AS spp, SUM(p*d) AS spd, SUM(p*t) AS spt,
         SUM(d*d) AS sdd, SUM(d*t) AS sdt, SUM(t*t) AS stt
  FROM pts
), pairs AS (
  SELECT * FROM (VALUES
    ('quantity', 'quantity'), ('quantity', 'price_cents'),
    ('quantity', 'discount_pct'), ('quantity', 'tax_pct'),
    ('price_cents', 'price_cents'), ('price_cents', 'discount_pct'),
    ('price_cents', 'tax_pct'), ('discount_pct', 'discount_pct'),
    ('discount_pct', 'tax_pct'), ('tax_pct', 'tax_pct')
  ) AS v(col_a, col_b)
)
SELECT col_a, col_b,
       CAST(CAST(n * CASE col_a || '|' || col_b
          WHEN 'quantity|quantity' THEN sqq
          WHEN 'quantity|price_cents' THEN sqp
          WHEN 'quantity|discount_pct' THEN sqd
          WHEN 'quantity|tax_pct' THEN sqt
          WHEN 'price_cents|price_cents' THEN spp
          WHEN 'price_cents|discount_pct' THEN spd
          WHEN 'price_cents|tax_pct' THEN spt
          WHEN 'discount_pct|discount_pct' THEN sdd
          WHEN 'discount_pct|tax_pct' THEN sdt
          ELSE stt END
        - CASE col_a WHEN 'quantity' THEN sq WHEN 'price_cents' THEN sp
                     WHEN 'discount_pct' THEN sd ELSE st END
        * CASE col_b WHEN 'quantity' THEN sq WHEN 'price_cents' THEN sp
                     WHEN 'discount_pct' THEN sd ELSE st END
        AS DOUBLE)
        / CAST(n * (n - 1) AS DOUBLE) AS DOUBLE) AS cov
FROM s, pairs
""",
    doc=(
        "Sample covariance matrix over four lineitem measures "
        "(quantity, price cents, discount points, tax points) — the "
        "feature-correlation screen every modeling pipeline runs "
        "before feature selection/whitening: ONE partial+final "
        "aggregation of the 14 exact integer power sums (the X'X "
        "pattern of regr_multi_ols widened to all 10 unordered "
        "pairs), then cov(a,b) = (n·Σab − Σa·Σb)/(n(n−1)) as one "
        "double division of exact operands per cell — hash-exact, no "
        "rounding band.  The 10-row pair spine is a VALUES literal "
        "joined to the 1-row stats (broadcast, both engines fold it); "
        "at any scale the shuffle carries exactly 15 numbers."
    ),
    tags=("stats", "agg"),
)
def stats_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    pts = li.select(
        F.round(F.col("l_quantity"), 0).cast(dec).alias("q"),
        F.round(F.col("l_extendedprice") * 100, 0).cast(dec).alias("p"),
        F.round(F.col("l_discount") * 100, 0).cast(dec).alias("d"),
        F.round(F.col("l_tax") * 100, 0).cast(dec).alias("t"),
    )
    names = {"q": "quantity", "p": "price_cents", "d": "discount_pct", "t": "tax_pct"}
    cols = ["q", "p", "d", "t"]
    aggs = [F.count(F.lit(1)).cast(dec).alias("n")]
    aggs += [F.sum(c).alias(f"s_{c}") for c in cols]
    pair_keys = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"s_{a}{b}"))
            pair_keys.append((a, b))
    s = pts.agg(*aggs)
    # ONE row → 10 cells via a row-local struct-array explode: a
    # union-of-selects here would re-evaluate the aggregate (and the
    # scan) once per cell — 10 exchanges for a 1-row input (caught by
    # the single-aggregate plan pin in tests/test_plans.py)
    cells = F.array(
        *[
            F.struct(
                F.lit(names[a]).alias("col_a"),
                F.lit(names[b]).alias("col_b"),
                (
                    (
                        F.col("n") * F.col(f"s_{a}{b}")
                        - F.col(f"s_{a}") * F.col(f"s_{b}")
                    ).cast("double")
                    / (F.col("n") * (F.col("n") - 1)).cast("double")
                ).alias("cov"),
            )
            for a, b in pair_keys
        ]
    )
    return s.select(F.explode(cells).alias("c")).select(
        "c.col_a", "c.col_b", "c.cov"
    )


@register(
    "agg_mode_exact",
    oracle="""
WITH by_val AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
), mx AS (
  SELECT event_type, max(cnt) AS max_cnt FROM by_val GROUP BY 1
)
SELECT b.event_type,
       CAST(min(b.c) AS BIGINT) AS mode_cents,
       CAST(m.max_cnt AS BIGINT) AS mode_count
FROM by_val b JOIN mx m
  ON m.event_type = b.event_type AND b.cnt = m.max_cnt
GROUP BY b.event_type, m.max_cnt
""",
    doc=(
        "Exact per-group MODE (most frequent value) with a total-order "
        "tiebreak — the categorical summary statistic Spark has no "
        "built-in exact form for (`mode()` exists in 3.4+ but its tie "
        "choice is undefined; an undefined tie is a nondeterministic "
        "result, which this repo treats as a bug).  Shape: value-grain "
        "count, per-group max over the COUNTS (group-grain, tiny), "
        "equi-join back on (group, max_cnt), min value among the tied "
        "— two keyed aggregates and one join, no windows, no sort, "
        "deterministic at any parallelism.  At 100 TB the state is "
        "distinct-value grain, and the max/argmin tail is group-grain."
    ),
    tags=("agg", "stats"),
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.load(spark, sf_dir, "events")
    by_val = ev.groupBy(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    mx = by_val.groupBy("event_type").agg(F.max("cnt").alias("max_cnt"))
    return (
        by_val.withColumnRenamed("cnt", "__mode_cnt")
        .join(
            F.broadcast(mx),
            ["event_type"],
        )
        .filter(F.col("__mode_cnt") == F.col("max_cnt"))
        .groupBy("event_type", "max_cnt")
        .agg(F.min("c").alias("mode_cents"))
        .select(
            "event_type",
            "mode_cents",
            F.col("max_cnt").alias("mode_count"),
        )
    )


@register(
    "stats_welch_ttest",
    oracle="""
WITH pts AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 'purchase' ELSE 'other' END
           AS grp,
         CAST(round(value * 100, 0) AS HUGEINT) AS c
  FROM events
), s AS (
  SELECT grp, CAST(count(*) AS HUGEINT) AS n, SUM(c) AS sc, SUM(c*c) AS scc
  FROM pts GROUP BY grp
), w AS (
  SELECT
    (SELECT n FROM s WHERE grp = 'purchase') AS n1,
    (SELECT sc FROM s WHERE grp = 'purchase') AS s1,
    (SELECT scc FROM s WHERE grp = 'purchase') AS q1,
    (SELECT n FROM s WHERE grp = 'other') AS n2,
    (SELECT sc FROM s WHERE grp = 'other') AS s2,
    (SELECT scc FROM s WHERE grp = 'other') AS q2
)
SELECT CAST(n1 AS BIGINT) AS n_purchase, CAST(n2 AS BIGINT) AS n_other,
       CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean_purchase_cents,
       CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mean_other_cents,
       (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
       / sqrt(
           CAST(n1 * q1 - s1 * s1 AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
                * CAST(n1 - 1 AS DOUBLE))
           + CAST(n2 * q2 - s2 * s2 AS DOUBLE)
             / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)
                * CAST(n2 - 1 AS DOUBLE))
         ) AS welch_t
FROM w
""",
    doc=(
        "Welch's unequal-variance two-sample t statistic (purchase vs "
        "non-purchase event values) — the MEANS companion to "
        "ab_test_conversion_z's proportions test: t = (m1−m2) / "
        "√(s1²/n1 + s2²/n2), with s²/n expanded to the exact-integer "
        "form (n·Σc² − S²)/(n²(n−1)) so every operand entering the "
        "float tail is an exact HUGEINT/decimal image of the data.  "
        "The float tail (two mean divisions, two variance-term "
        "divisions, one sqrt, one division) is identical-shape in "
        "both engines — hash-exact, no tolerance.  ONE partial+final "
        "aggregation of (n, Σc, Σc²) per group; the statistic itself "
        "is computed on a 1-row frame.  (No p-value on purpose: erf "
        "is libm territory and the decision threshold |t| > z_α is "
        "the deterministic integer-free compare consumers apply.)"
    ),
    tags=("stats", "agg"),
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.load(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    pts = ev.select(
        F.when(F.col("event_type") == "purchase", "purchase")
        .otherwise("other")
        .alias("grp"),
        F.round(F.col("value") * 100, 0).cast(dec).alias("c"),
    )
    s = pts.groupBy("grp").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    one = (
        s.groupBy()
        .pivot("grp", ["purchase", "other"])
        .agg(F.first("n").alias("n"), F.first("sc").alias("s"), F.first("scc").alias("q"))
    )
    n1, s1, q1 = F.col("purchase_n"), F.col("purchase_s"), F.col("purchase_q")
    n2, s2, q2 = F.col("other_n"), F.col("other_s"), F.col("other_q")
    m1 = s1.cast("double") / n1.cast("double")
    m2 = s2.cast("double") / n2.cast("double")
    var_term = lambda n, sc, q: (n * q - sc * sc).cast("double") / (
        n.cast("double") * n.cast("double") * (n - 1).cast("double")
    )
    return one.select(
        n1.cast("bigint").alias("n_purchase"),
        n2.cast("bigint").alias("n_other"),
        m1.alias("mean_purchase_cents"),
        m2.alias("mean_other_cents"),
        ((m1 - m2) / F.sqrt(var_term(n1, s1, q1) + var_term(n2, s2, q2))).alias(
            "welch_t"
        ),
    )


@register(
    "profile_functional_deps",
    oracle="""
WITH cand(det, dep) AS (
  VALUES ('o_orderkey', 'o_custkey'),
         ('o_custkey', 'o_orderpriority'),
         ('o_orderpriority', 'o_orderstatus'),
         ('o_orderstatus', 'o_orderpriority')
),
v AS (
  SELECT 'o_orderkey' AS det, CAST(o_orderkey AS VARCHAR) AS dv,
         CAST(o_custkey AS VARCHAR) AS pv FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR),
         o_orderpriority FROM orders
  UNION ALL
  SELECT 'o_orderpriority', o_orderpriority, o_orderstatus FROM orders
  UNION ALL
  SELECT 'o_orderstatus', o_orderstatus, o_orderpriority FROM orders
),
g AS (
  SELECT det, dv, CAST(count(DISTINCT pv) AS BIGINT) AS n_dep
  FROM v GROUP BY det, dv
)
SELECT c.det AS determinant, c.dep AS dependent,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(count(*) FILTER (g.n_dep > 1) AS BIGINT) AS n_violating,
       CAST(count(*) FILTER (g.n_dep > 1) = 0 AS BOOLEAN) AS fd_holds
FROM g JOIN cand c ON g.det = c.det
GROUP BY c.det, c.dep
""",
    doc=(
        "Functional-dependency discovery over candidate column pairs "
        "of the orders table (the profiling pass schema-inference and "
        "data-quality tools run to find keys and denormalization): "
        "A -> B holds iff no value of A maps to more than one distinct "
        "B. Each candidate is one count-distinct rollup at the "
        "determinant grain followed by a violation count — exact "
        "integers, no windows; o_orderkey -> o_custkey holds (it is "
        "the key), the three categorical candidates fail with "
        "thousands of violating groups (probed non-vacuous both "
        "ways). Plan: per-candidate value projections unioned into "
        "ONE grouped count-distinct shuffle keyed on (candidate, "
        "value) — parallelism grows with value cardinality, and "
        "adding candidates widens the union, not the shuffle count."
    ),
    tags=("stats", "analytics", "agg"),
)
def profile_functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = io.load(spark, sf_dir, "orders")
    cands = [
        ("o_orderkey", "o_custkey"),
        ("o_custkey", "o_orderpriority"),
        ("o_orderpriority", "o_orderstatus"),
        ("o_orderstatus", "o_orderpriority"),
    ]
    v = None
    for det, dep in cands:
        part = o.select(
            F.lit(det).alias("det"),
            F.col(det).cast("string").alias("dv"),
            F.col(dep).cast("string").alias("pv"),
        )
        v = part if v is None else v.unionByName(part)
    g = v.groupBy("det", "dv").agg(F.count_distinct("pv").alias("n_dep"))
    dep_map = spark.createDataFrame(cands, "det string, dep string")
    return (
        g.join(F.broadcast(dep_map), "det")
        .groupBy(F.col("det").alias("determinant"), F.col("dep").alias("dependent"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.count_if(F.col("n_dep") > 1).cast("bigint").alias("n_violating"),
            (F.count_if(F.col("n_dep") > 1) == 0).alias("fd_holds"),
        )
    )


@register(
    "audience_overlap_matrix",
    oracle="""
WITH ut AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         event_type
  FROM events
),
tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM ut GROUP BY event_type),
pc AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.day = b.day
                     AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT p.type_a, p.type_b, p.n_both,
       CAST(1000000 * p.n_both // (ca.c + cb.c - p.n_both) AS BIGINT)
         AS jaccard_ppm
FROM pc p
JOIN tc ca ON p.type_a = ca.event_type
JOIN tc cb ON p.type_b = cb.event_type
""",
    doc=(
        "Audience-overlap matrix at user-DAY grain (DAU overlap): for "
        "every pair of event types, the count of user-days active in "
        "both and the Jaccard overlap of the two daily audiences in "
        "exact integer ppm — the segment-overlap report ad/growth "
        "analytics runs before building lookalike audiences. User-day "
        "grain, not lifetime user grain: on a month-long fixture every "
        "user touches every type eventually, so the lifetime matrix "
        "is degenerately all-ones (probed; the vacuous-oracle lesson) "
        "while daily audiences vary (jaccard 0.21-0.24 ppm band). "
        "Same row-local sorted-set pair emission as "
        "copurchase_brand_pairs (per-user-day collect_set bounded by "
        "the type dimension), one pair-count shuffle, broadcast "
        "audience sizes; all integers, bit-exact."
    ),
    tags=("analytics", "agg"),
)
def audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.load(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
    )
    ut = ev.distinct()
    tc = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(20,0)").alias("c")
    )
    per_user = ut.groupBy("user_id", "day").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    pc = (
        per_user.select(
            F.explode(
                F.expr(
                    "flatten(transform(types, (x, i) -> "
                    "transform(slice(types, i + 2, size(types)), "
                    "y -> struct(x AS type_a, y AS type_b))))"
                )
            ).alias("p")
        )
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("decimal(20,0)").alias("n_both"))
    )
    ca = tc.selectExpr("event_type AS type_a", "c AS c_a")
    cb = tc.selectExpr("event_type AS type_b", "c AS c_b")
    return (
        pc.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("bigint").alias("n_both"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_both)"
                " div (c_a + c_b - n_both) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


@register(
    "table_fingerprint_orders",
    oracle="""
WITH canon AS (
  SELECT CAST(o_orderkey AS VARCHAR) || '|' ||
         CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR) || '|' ||
         o_orderstatus || '|' ||
         CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS VARCHAR) || '|' ||
         o_orderpriority || '|' ||
         CAST(o_custkey AS VARCHAR) AS row_str
  FROM orders
),
h AS (
  SELECT CAST('0x' || substr(md5(row_str), 1, 8) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(row_str), 9, 8) AS BIGINT) AS h2
  FROM canon
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(h1) AS BIGINT) AS xor_lo,
       CAST(bit_xor(h2) AS BIGINT) AS xor_hi,
       CAST(SUM(h1) AS DECIMAL(38,0)) AS sum_lo
FROM h
""",
    doc=(
        "Order-independent table fingerprint of orders (the "
        "cross-system reconciliation primitive: two engines agree on "
        "a migrated/replicated table iff their fingerprints match, "
        "without sorting or transferring rows): every row is rendered "
        "to ONE canonical string of integer/string fields — cents, "
        "epoch-microseconds, never a raw double — hashed with the "
        "portable md5-32 family (two 32-bit halves), and combined "
        "with commutative aggregates (count, XOR of each half, "
        "DECIMAL(38) sum of the low half, so a swap that XOR misses "
        "still moves the sum). Fully distributive: partial "
        "fingerprints combine associatively, so the plan is one scan "
        "+ one 1-row final — no shuffle wider than the partial "
        "states at any scale."
    ),
    tags=("stats", "agg", "analytics"),
)
def table_fingerprint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = io.load(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
        F.col("o_orderstatus"),
        F.unix_micros(F.to_utc_timestamp(F.col("o_orderdate"), "UTC")).cast(
            "string"
        ),
        F.col("o_orderpriority"),
        F.col("o_custkey").cast("string"),
    )
    md5 = F.md5(row_str)
    h = o.select(
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("h2"),
    )
    return h.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr("bit_xor(h1)").cast("bigint").alias("xor_lo"),
        F.expr("bit_xor(h2)").cast("bigint").alias("xor_hi"),
        F.sum("h1").cast("decimal(38,0)").alias("sum_lo"),
    )


@register(
    "profile_key_skew",
    oracle="""
WITH kc AS (
  SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY o_custkey
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(SUM(cnt) AS BIGINT) AS n_rows
  FROM kc
)
SELECT k.key, k.cnt,
       CAST(1000000 * k.cnt // t.n_rows AS BIGINT) AS share_ppm,
       CAST(1000 * k.cnt * t.n_keys // t.n_rows AS BIGINT) AS skew_x1000
FROM kc k CROSS JOIN tot t
ORDER BY k.cnt DESC, k.key
LIMIT 10
""",
    doc=(
        "Join-key skew profiler: the top-10 heaviest o_custkey values "
        "with their row share (ppm) and their ratio to the mean key "
        "load in exact milli-units (cnt·n_keys/n_rows, integer "
        "cross-multiplied — skew_x1000 = 3000 means this key carries "
        "3x a fair share). This is the diagnostic run BEFORE choosing "
        "a join strategy: a top key near 1.0x says hash partitioning "
        "is fine, a 100x key says salt it (operators/skew.py) or "
        "let AQE split it. One keyed count shuffle + a 1-row total "
        "broadcast + TakeOrderedAndProject for the top-10 — never a "
        "global sort."
    ),
    tags=("stats", "analytics", "agg", "topk"),
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = io.load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    kc = o.groupBy("key").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = kc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
    )
    return (
        kc.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "cnt",
            F.expr("CAST((1000000 * cnt) div n_rows AS BIGINT)").alias("share_ppm"),
            F.expr("CAST((1000 * cnt * n_keys) div n_rows AS BIGINT)").alias(
                "skew_x1000"
            ),
        )
        .orderBy(F.col("cnt").desc(), F.col("key"))
        .limit(10)
    )


@register(
    "isotonic_calibration_price",
    oracle="""
WITH b AS (
  SELECT LEAST(CAST(FLOOR(l_extendedprice / 5000) AS INT), 19) AS bin,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS pos
  FROM lineitem GROUP BY 1
),
segs AS (
  SELECT a.bin AS i, c.bin AS j,
         (1000000 * SUM(t.pos)) // SUM(t.cnt) AS rate_q
  FROM b a JOIN b c ON c.bin >= a.bin
       JOIN b t ON t.bin BETWEEN a.bin AND c.bin
  GROUP BY 1, 2
),
m AS (
  SELECT s.i, k.bin AS k, MIN(s.rate_q) AS mn
  FROM segs s JOIN b k ON s.i <= k.bin AND s.j >= k.bin
  GROUP BY 1, 2
),
fit AS (SELECT k, MAX(mn) AS iso_ppm FROM m GROUP BY 1)
SELECT b.bin, b.cnt, b.pos,
       CAST((1000000 * b.pos) // b.cnt AS BIGINT) AS rate_ppm,
       CAST(fit.iso_ppm AS BIGINT) AS iso_ppm
FROM b JOIN fit ON fit.k = b.bin
""",
    doc=(
        "Distributed isotonic regression (PAVA) via the max-min closed "
        "form: the monotone least-squares calibration map score-bin -> "
        "positive rate that sklearn's IsotonicRegression / calibrated "
        "classifiers fit, here over 20 price bins x return flag. "
        "Instead of the sequential pool-adjacent-violators stack (a "
        "driver loop), the fit uses the textbook closed form "
        "iso(k) = max_{i<=k} min_{j>=k} avg(y[i..j]) (Barlow et al. "
        "1972) on the BOUNDED bin grain: one corpus scan aggregates "
        "60k rows to 20 (bin, cnt, pos) rows, then two triangular "
        "joins over that 20-row table (O(bins^3) = 8k rows, constant "
        "at any corpus SF) compute every pooled-segment rate and the "
        "max-min envelope. Pooled rates are quantized to integer ppm "
        "via the hits.py integer-division discipline, so both engines "
        "produce bit-identical fits and the DuckDB oracle replays the "
        "closed form exactly. Scale: the corpus-dependent work is ONE "
        "map-side-combinable groupBy(bin); everything after is "
        "constant-size broadcast algebra — at 100 TB the fit costs a "
        "scan, not a shuffle. Monotonicity + envelope properties "
        "pinned in tests/test_statml.py."
    ),
    tags=("stats", "ml", "agg", "join"),
)
def isotonic_calibration_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").select("l_extendedprice", "l_returnflag")
    b = (
        li.groupBy(
            F.least(
                F.floor(F.col("l_extendedprice") / 5000).cast("int"), F.lit(19)
            ).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.count(F.when(F.col("l_returnflag") == "R", 1))
            .cast("bigint")
            .alias("pos"),
        )
        # referenced 4x (segment endpoints, members, k-probe, output);
        # 20 rows — one eager materialization, never recomputed
        .localCheckpoint()
    )
    bi = b.select(F.col("bin").alias("i"))
    bj = b.select(F.col("bin").alias("j"))
    bt = b.select(F.col("bin").alias("t"), "cnt", "pos")
    segs = (
        bi.join(F.broadcast(bj), F.col("j") >= F.col("i"))
        .join(
            F.broadcast(bt),
            (F.col("t") >= F.col("i")) & (F.col("t") <= F.col("j")),
        )
        .groupBy("i", "j")
        .agg(
            F.expr("CAST((1000000 * SUM(pos)) div SUM(cnt) AS BIGINT)").alias(
                "rate_q"
            )
        )
    )
    m = (
        segs.join(
            F.broadcast(b.select(F.col("bin").alias("k"))),
            (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k")),
        )
        .groupBy("i", "k")
        .agg(F.min("rate_q").alias("mn"))
    )
    fit = m.groupBy("k").agg(F.max("mn").alias("iso_ppm"))
    return b.join(F.broadcast(fit), b.bin == fit.k).select(
        "bin",
        "cnt",
        "pos",
        F.expr("CAST((1000000 * pos) div cnt AS BIGINT)").alias("rate_ppm"),
        F.col("iso_ppm").cast("bigint").alias("iso_ppm"),
    )


@register(
    "cms_token_counts",
    oracle=r"""
WITH tok AS (
  SELECT word AS token FROM (
    SELECT unnest(string_split_regex(text, '[^\p{L}]+')) AS word
    FROM documents
  ) t WHERE word <> ''
),
rws AS (SELECT unnest(range(4)) AS r),
cells AS (
  SELECT r,
         CAST('0x' || substr(md5(r || ':' || token), 1, 8) AS BIGINT) % 256
           AS bucket,
         CAST(count(*) AS BIGINT) AS mass
  FROM tok CROSS JOIN rws
  GROUP BY 1, 2
),
exact AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM tok GROUP BY token
  ORDER BY exact_cnt DESC, token LIMIT 20
),
est AS (
  SELECT e.token, MIN(c.mass) AS cms_est
  FROM exact e CROSS JOIN rws
  JOIN cells c
    ON c.r = rws.r
   AND c.bucket = CAST('0x' || substr(md5(rws.r || ':' || e.token), 1, 8)
                       AS BIGINT) % 256
  GROUP BY e.token
)
SELECT e.token, e.exact_cnt, CAST(est.cms_est AS BIGINT) AS cms_est
FROM exact e JOIN est USING (token)
""",
    doc=(
        "Count-min sketch (Cormode & Muthukrishnan 2005) with a "
        "PORTABLE hash family: depth 4 x width 256 counters, row-r "
        "bucket = first-8-hex-digits of md5('r:token') mod 256 — the "
        "dedup.py md5lin discipline, so the sketch is bit-identical in "
        "any engine and the DuckDB oracle replays the ENTIRE sketch "
        "build plus the point-query path exactly (no rows-only "
        "contract needed, unlike the HLL/GK sketches whose register "
        "layouts are engine-private). Build: one map-side-combinable "
        "groupBy over (r, bucket) — 1024 cells regardless of corpus "
        "size, the streaming-friendly fixed-memory shape. Probe: the "
        "top-20 exact tokens' estimates = min over the 4 rows of their "
        "cell mass. CMS guarantee (est >= exact; est <= exact + "
        "eps*N w.h.p.) pinned in tests/test_statml.py."
    ),
    tags=("stats", "sketch", "agg", "text"),
)
def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.text import tokens_nonempty

    docs = io.load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens_nonempty("text")).alias("token"))
    rws = F.broadcast(spark.range(4).select(F.col("id").cast("int").alias("r")))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("r").cast("string"), F.col("token"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 256
    )
    cells = (
        tok.crossJoin(rws)
        .select("r", bucket.alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("mass"))
    )
    exact = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "token")
        .limit(20)
    )
    probes = exact.crossJoin(rws).select(
        "token", "exact_cnt", "r", bucket.alias("bucket")
    )
    est = (
        probes.join(cells, ["r", "bucket"])
        .groupBy("token", "exact_cnt")
        .agg(F.min("mass").alias("cms_est"))
    )
    return est.select("token", "exact_cnt", F.col("cms_est").cast("bigint"))


# ---------------------------------------------------------------------------
# Empirical-Bayes rate shrinkage (round-10 widening)
# ---------------------------------------------------------------------------


@register(
    "eb_shrunk_return_rate",
    oracle="""
WITH g AS (
  SELECT p.p_brand AS brand,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_returns
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
),
r AS (
  SELECT *, (1000000 * n_returns) // n_lines AS rate_ppm FROM g
),
prior AS (
  SELECT CAST(count(*) AS BIGINT) AS nb,
         CAST(SUM(rate_ppm) AS BIGINT) AS s1,
         CAST(SUM(rate_ppm * rate_ppm) AS BIGINT) AS s2
  FROM r
),
scal AS (
  SELECT (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE)) / 1000000.0 AS m,
         ((CAST(s2 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             / CAST(nb AS DOUBLE))
           / (CAST(nb AS DOUBLE) - 1.0)) / 1000000000000.0 AS v
  FROM prior
)
SELECT brand, n_lines, n_returns, CAST(rate_ppm AS BIGINT) AS rate_ppm,
       CASE WHEN v > 0.0 AND (m * (1.0 - m) / v) - 1.0 > 0.0
            THEN ((m * ((m * (1.0 - m) / v) - 1.0)) + CAST(n_returns AS DOUBLE))
                 / (((m * (1.0 - m) / v) - 1.0) + CAST(n_lines AS DOUBLE))
            ELSE CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE)
       END AS shrunk_rate
FROM r, scal
""",
    doc=(
        "Empirical-Bayes (beta-binomial, method-of-moments) shrinkage "
        "of per-brand return rates toward the corpus prior — the "
        "standard guard against small-sample rate estimates (a brand "
        "with 3 lines and 1 return is NOT a 33% returner). Prior "
        "strength s = m(1-m)/v - 1 from the mean/variance of the "
        "brand-level rates; posterior rate = (alpha + r)/(s + n). "
        "Float discipline: group moments are EXACT BIGINT sums of "
        "integer-ppm rates (rate_ppm = (1e6*r) DIV n, exact integer "
        "division in both engines), so the prior scalars and the "
        "single posterior expression are bit-identical IEEE doubles "
        "given identical parenthesization — no fold-order exposure "
        "anywhere. Plan: one keyed lineitem+part join-aggregate, a "
        "25-row brand table, a 1-row prior broadcast back; the only "
        "corpus-sized shuffle is the brand aggregate."
    ),
    tags=("statml", "agg", "join"),
)
def eb_shrunk_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    part = io.load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    g = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_returns"),
        )
        .withColumn(
            "rate_ppm",
            F.expr("CAST((1000000 * n_returns) DIV n_lines AS BIGINT)"),
        )
    )
    prior = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("rate_ppm").cast("bigint").alias("s1"),
        F.sum(F.col("rate_ppm") * F.col("rate_ppm")).cast("bigint").alias("s2"),
    )
    scal = prior.selectExpr(
        "(CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE)) / 1000000.0D AS m",
        "((CAST(s2 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
        " / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0D))"
        " / 1000000000000.0D AS v",
    )
    return g.crossJoin(F.broadcast(scal)).selectExpr(
        "brand",
        "n_lines",
        "n_returns",
        "CAST(rate_ppm AS BIGINT) AS rate_ppm",
        "CASE WHEN v > 0.0D AND (m * (1.0D - m) / v) - 1.0D > 0.0D"
        " THEN ((m * ((m * (1.0D - m) / v) - 1.0D)) + CAST(n_returns AS DOUBLE))"
        "      / (((m * (1.0D - m) / v) - 1.0D) + CAST(n_lines AS DOUBLE))"
        " ELSE CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE)"
        " END AS shrunk_rate",
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U test (round-10 widening)
# ---------------------------------------------------------------------------


@register(
    "ab_test_mannwhitney_u",
    oracle="""
WITH pts AS (
  SELECT event_type AS grp, CAST(ROUND(value * 100, 0) AS BIGINT) AS x
  FROM events WHERE event_type IN ('click', 'purchase')
),
rk AS (
  SELECT grp,
         2 * rank() OVER (ORDER BY x) + count(*) OVER (PARTITION BY x) - 1
           AS r2
  FROM pts
),
ties AS (
  SELECT CAST(SUM(m * m * m - m) AS BIGINT) AS tie3
  FROM (SELECT count(*) AS m FROM pts GROUP BY x)
),
s AS (
  SELECT CAST(SUM(CASE WHEN grp = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN grp = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CAST(SUM(CASE WHEN grp = 'click' THEN r2 ELSE 0 END) AS BIGINT) AS s2a
  FROM rk
)
SELECT na, nb,
       CAST(s2a - na * (na + 1) AS BIGINT) AS u2_a,
       (CAST(s2a - na * (na + 1) AS DOUBLE) / 2.0 -
        (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / 2.0)
       / sqrt(((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / 12.0)
              * ((CAST(na + nb AS DOUBLE) + 1.0)
                 - CAST(tie3 AS DOUBLE)
                   / (CAST(na + nb AS DOUBLE)
                      * (CAST(na + nb AS DOUBLE) - 1.0)))) AS z
FROM s, ties
""",
    doc=(
        "Mann-Whitney U (Wilcoxon rank-sum) test of click-vs-purchase "
        "value distributions — the distribution-free A/B complement "
        "to ab_test_conversion_z / stats_welch_ttest (rank-based: "
        "robust to the heavy tails that invalidate the t-test's "
        "normality). Pooled doubled midranks (2*rank + ties - 1, the "
        "spearman integer discipline) make S2_A and 2*U_A EXACT "
        "BIGINTs; the tie-corrected normal approximation z is one "
        "parenthesized double expression over those integers, so it "
        "replays bit-identically (sqrt is IEEE-correctly-rounded, the "
        "scalar_math_libm quarantine does not apply). Plan: midranks "
        "from VALUE-grain counts via the distributed global cumsum "
        "(functions/rank.py — never a partition-less window), joined "
        "back on the value key; everything after is 1-row algebra. "
        "At ~1e10 rows the doubled-rank sums approach BIGINT range — "
        "the decimal(38) swap is noted inline."
    ),
    tags=("statml", "agg", "stats"),
)
def ab_test_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.rank import global_rank_cumsum

    ev = io.load(spark, sf_dir, "events")
    pts = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
    )
    vc = pts.groupBy("x").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.when(F.col("grp") == "click", 1).otherwise(0)).alias("a"),
    )
    # value-grain doubled midrank: 2*cum_before + m + 1, exact integers
    # (sums fit BIGINT to ~1e9 rows; swap the sum dtypes to
    # decimal(38,0) beyond that)
    g = global_rank_cumsum(
        vc,
        [F.asc("x")],
        [("cum", "m")],
        rank_col="__rn",
        bucket_expr=F.floor(F.col("x") / F.lit(2048)),
    )
    s = g.select(
        (2 * (F.col("cum") - F.col("m")) + F.col("m") + 1).alias("r2"),
        "m",
        "a",
    ).agg(
        F.sum("a").cast("bigint").alias("na"),
        F.sum(F.col("m") - F.col("a")).cast("bigint").alias("nb"),
        F.sum(F.col("r2") * F.col("a")).cast("bigint").alias("s2a"),
        F.sum(F.col("m") * F.col("m") * F.col("m") - F.col("m"))
        .cast("bigint")
        .alias("tie3"),
    )
    return s.selectExpr(
        "na",
        "nb",
        "CAST(s2a - na * (na + 1) AS BIGINT) AS u2_a",
        "(CAST(s2a - na * (na + 1) AS DOUBLE) / 2.0D -"
        " (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / 2.0D)"
        " / sqrt(((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / 12.0D)"
        "        * ((CAST(na + nb AS DOUBLE) + 1.0D)"
        "           - CAST(tie3 AS DOUBLE)"
        "             / (CAST(na + nb AS DOUBLE)"
        "                * (CAST(na + nb AS DOUBLE) - 1.0D)))) AS z",
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (round-10 widening)
# ---------------------------------------------------------------------------


@register(
    "theilsen_daily_trend",
    oracle="""
WITH daily AS (
  SELECT CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
slopes AS (
  SELECT b.y - a.y AS num, b.d - a.d AS den,
         CAST(b.y - a.y AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS s
  FROM daily a JOIN daily b ON a.d < b.d
),
rk AS (
  SELECT num, den, s,
         row_number() OVER (ORDER BY s, num, den) AS rn,
         count(*) OVER () AS n
  FROM slopes
)
SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN num END) AS BIGINT) AS lo_num,
       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN den END) AS BIGINT) AS lo_den,
       CAST(MAX(CASE WHEN rn = (n + 2) // 2 THEN num END) AS BIGINT) AS hi_num,
       CAST(MAX(CASE WHEN rn = (n + 2) // 2 THEN den END) AS BIGINT) AS hi_den,
       (MAX(CASE WHEN rn = (n + 1) // 2
            THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END)
        + MAX(CASE WHEN rn = (n + 2) // 2
              THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END)) / 2.0
         AS slope_per_day
FROM rk
""",
    doc=(
        "Theil-Sen robust trend of the daily event count: the median "
        "of all pairwise slopes (y_j - y_i)/(d_j - d_i) — a 29%-"
        "breakdown-point alternative to regr_slope_by_type's OLS "
        "(one bot-traffic day drags OLS; the slope median shrugs). "
        "Slopes stay EXACT integer fractions; ordering is by the "
        "identical IEEE double quotient in both engines with a "
        "(num, den) tiebreak, and the even-n median is the doubled-"
        "median discipline (both middle elements reported as exact "
        "fractions; the final average is one deterministic double "
        "expression). Plan: the corpus collapses to a DAY-grain "
        "aggregate first (bounded: a year is 365 rows, 66k pairs), so "
        "the pair join and the small_df_rank triangular rank are "
        "pair join is bounded — but the O(n_pairs^2) triangular rank "
        "is NOT (a year of days is ~66k slopes -> 4.4e9 comparison "
        "pairs), so the slope rank uses global_rank_cumsum, the "
        "range-partitioned two-pass rank whose cost is one sort-"
        "shuffle of the pair set. The only corpus-sized work is the "
        "daily count scan, map-side combinable."
    ),
    tags=("statml", "agg", "stats", "timeseries"),
)
def theilsen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.rank import global_rank_cumsum

    ev = io.load(spark, sf_dir, "events")
    daily = ev.groupBy(
        (F.col("ts").cast("long") / F.lit(86400))
        .cast("bigint")
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    a = daily.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    # (da, db) completes the total order global_rank_cumsum requires;
    # ties within an identical (s, num, den) triple cannot change which
    # fraction VALUES land at the two median positions, so the oracle's
    # (s, num, den) row_number picks the same outputs
    slopes = (
        a.join(b, F.col("da") < F.col("db"))
        .select(
            (F.col("yb") - F.col("ya")).alias("num"),
            (F.col("db") - F.col("da")).alias("den"),
            (
                (F.col("yb") - F.col("ya")).cast("double")
                / (F.col("db") - F.col("da")).cast("double")
            ).alias("s"),
            "da",
            "db",
        )
    )
    rk = global_rank_cumsum(
        slopes,
        [F.col("s"), F.col("num"), F.col("den"), F.col("da"), F.col("db")],
        rank_col="rn",
    )
    n = rk.agg(F.count(F.lit(1)).alias("n"))
    mid = rk.crossJoin(F.broadcast(n)).filter(
        (F.col("rn") == F.expr("(n + 1) DIV 2"))
        | (F.col("rn") == F.expr("(n + 2) DIV 2"))
    )
    return mid.agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("num")))
        .cast("bigint")
        .alias("lo_num"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("den")))
        .cast("bigint")
        .alias("lo_den"),
        F.max(F.when(F.col("rn") == F.expr("(n + 2) DIV 2"), F.col("num")))
        .cast("bigint")
        .alias("hi_num"),
        F.max(F.when(F.col("rn") == F.expr("(n + 2) DIV 2"), F.col("den")))
        .cast("bigint")
        .alias("hi_den"),
        (
            (
                F.max(
                    F.when(
                        F.col("rn") == F.expr("(n + 1) DIV 2"),
                        F.col("num").cast("double") / F.col("den").cast("double"),
                    )
                )
                + F.max(
                    F.when(
                        F.col("rn") == F.expr("(n + 2) DIV 2"),
                        F.col("num").cast("double") / F.col("den").cast("double"),
                    )
                )
            )
            / F.lit(2.0)
        ).alias("slope_per_day"),
    )


# ---------------------------------------------------------------------------
# Batch perceptron (round-10 widening)
# ---------------------------------------------------------------------------


def _perceptron_oracle(rounds: int) -> str:
    parts = [
        """feat AS MATERIALIZED (
  SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS x1,
         CAST(month(o_orderdate) AS BIGINT) AS x2,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE -1 END AS y
  FROM orders
),
b0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
              CAST(0 AS BIGINT) AS w2)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""b{i} AS (
  SELECT b.w0 + COALESCE(SUM(CASE WHEN f.y * (b.w0 + b.w1 * f.x1 + b.w2 * f.x2)
                                       <= 0 THEN f.y END), 0) AS w0,
         b.w1 + COALESCE(SUM(CASE WHEN f.y * (b.w0 + b.w1 * f.x1 + b.w2 * f.x2)
                                       <= 0 THEN f.y * f.x1 END), 0) AS w1,
         b.w2 + COALESCE(SUM(CASE WHEN f.y * (b.w0 + b.w1 * f.x1 + b.w2 * f.x2)
                                       <= 0 THEN f.y * f.x2 END), 0) AS w2
  FROM feat f, b{i - 1} b
  GROUP BY b.w0, b.w1, b.w2
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT b.w0, b.w1, b.w2,
       CAST(SUM(CASE WHEN f.y * (b.w0 + b.w1 * f.x1 + b.w2 * f.x2) <= 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_misclassified,
       CAST(count(*) AS BIGINT) AS n_total
FROM feat f, b{rounds} b
GROUP BY b.w0, b.w1, b.w2
"""
    )


@register(
    "perceptron_batch_priority",
    oracle=_perceptron_oracle(4),
    doc=(
        "Batch perceptron (fixed 4 rounds, batch-gradient variant: "
        "each round adds the SUM of y·x over currently-misclassified "
        "rows — order-free, unlike the sequential online perceptron) "
        "classifying urgent/high priority from integer features "
        "(price bucket, order month). Every quantity in the training "
        "LOOP is a BIGINT (features are integer buckets, learning "
        "rate 1), so the full 4-round training trajectory replays "
        "bit-exactly in the unrolled-CTE oracle — a TRAINED MODEL as "
        "a hash-checked query, the same discipline as the pagerank/"
        "PPR iterations. Near-chance accuracy on the synthetic "
        "fixture is the honest expected result (priorities are "
        "random) — the gate checks the algorithm, not the data. Plan "
        "per round: one scan of the cached feature projection + a "
        "1-row broadcast of the weights; at 100 TB this is 4 "
        "map-side-combinable aggregates."
    ),
    tags=("statml", "agg", "ml"),
)
def perceptron_batch_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = io.load(spark, sf_dir, "orders")
    feat = orders.select(
        F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("x1"),
        F.month("o_orderdate").cast("bigint").alias("x2"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
        )
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("y"),
    ).localCheckpoint(eager=False)
    w = (0, 0, 0)
    beta = None
    for _ in range(4):
        if beta is None:
            beta = spark.createDataFrame([w], "w0 long, w1 long, w2 long")
        margin = F.col("y") * (
            F.col("w0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
        )
        mis = F.when(margin <= 0, F.lit(1)).otherwise(F.lit(0))
        upd = (
            feat.crossJoin(F.broadcast(beta))
            .agg(
                (F.first("w0") + F.sum(F.when(margin <= 0, F.col("y")).otherwise(F.lit(0))))
                .cast("bigint")
                .alias("w0"),
                (
                    F.first("w1")
                    + F.sum(
                        F.when(margin <= 0, F.col("y") * F.col("x1")).otherwise(
                            F.lit(0)
                        )
                    )
                )
                .cast("bigint")
                .alias("w1"),
                (
                    F.first("w2")
                    + F.sum(
                        F.when(margin <= 0, F.col("y") * F.col("x2")).otherwise(
                            F.lit(0)
                        )
                    )
                )
                .cast("bigint")
                .alias("w2"),
            )
        )
        beta = upd.localCheckpoint()
    margin = F.col("y") * (
        F.col("w0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
    )
    return (
        feat.crossJoin(F.broadcast(beta))
        .groupBy("w0", "w1", "w2")
        .agg(
            F.sum(F.when(margin <= 0, F.lit(1)).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_misclassified"),
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
        )
        .select("w0", "w1", "w2", "n_misclassified", "n_total")
    )


# ---------------------------------------------------------------------------
# Logistic regression via fixed-round batch gradient descent (round-11)
# ---------------------------------------------------------------------------
#
# The sigmoid was the blocker that deferred this operator (VERDICT r9/
# r10): exp() is a libm transcendental whose low bits the two engines
# need not share inside a 4-round feedback loop where any ULP compounds.
# The unblocking discipline is NOT rounding exp — it is replacing it:
# the rational squashing function
#
#     sigma~(z) = 0.5 + 0.5 * z / (1 + |z|)
#
# uses only +, *, /, abs — every one an exactly-rounded IEEE-754
# operation — so identical double inputs give BIT-IDENTICAL outputs in
# Spark (JVM) and DuckDB (C++) with no libm in sight. sigma~ is a
# monotone sigmoid onto (0,1) with sigma~(0)=1/2 ("fast sigmoid",
# long-standing neural-net practice for transcendental-free training).
# The remaining float hazard is SUM ORDER over per-row double
# gradients; that is removed the same way as everywhere else in this
# repo: quantize each row's gradient residual to integer MICRO-UNITS
# first (round((y - p) * 1e6) — round() on a shared-bit-pattern double
# is engine-portable), then SUM exact BIGINTs. Weights live in BIGINT
# micro-units; the one division per round (learning rate 1/8 applied
# to the average gradient) is a deterministic double expression rounded
# back to integer micro-units. The whole 4-round trajectory therefore
# replays bit-exactly in the unrolled-CTE oracle — the
# perceptron_batch_priority discipline with a real GLM link.


_LOGIT_Z = "CAST(b.w0 + b.w1 * f.x1 + b.w2 * f.x2 AS DOUBLE) / 1000000.0"
_LOGISTIC_ROUNDS = 4  # GD rounds of _logistic_fit and of every replay below


def _logistic_ctes() -> str:
    """WITH-body training prefix shared by the logistic queries: feat,
    b0 .. b{_LOGISTIC_ROUNDS} (weights in BIGINT micro-units)."""
    parts = [
        """feat AS MATERIALIZED (
  SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS x1,
         CAST(month(o_orderdate) AS BIGINT) AS x2,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
),
b0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
              CAST(0 AS BIGINT) AS w2)"""
    ]
    for i in range(1, _LOGISTIC_ROUNDS + 1):
        parts.append(
            f"""b{i} AS (
  SELECT bw0 + CAST(ROUND(CAST(SUM(c) AS DOUBLE) / (8.0 * count(*)), 0)
               AS BIGINT) AS w0,
         bw1 + CAST(ROUND(CAST(SUM(c * x1) AS DOUBLE) / (8.0 * count(*)), 0)
               AS BIGINT) AS w1,
         bw2 + CAST(ROUND(CAST(SUM(c * x2) AS DOUBLE) / (8.0 * count(*)), 0)
               AS BIGINT) AS w2
  FROM (
    SELECT f.x1, f.x2, b.w0 AS bw0, b.w1 AS bw1, b.w2 AS bw2,
           CAST(ROUND((CAST(f.y AS DOUBLE)
                 - (0.5 + 0.5 * (({_LOGIT_Z})
                     / (1.0 + abs({_LOGIT_Z}))))) * 1000000.0, 0)
                AS BIGINT) AS c
    FROM feat f, b{i - 1} b
  ) t
  GROUP BY bw0, bw1, bw2
)"""
        )
    return ",\n".join(parts)


@register(
    "logistic_gd_priority",
    oracle="WITH "
    + _logistic_ctes()
    + """
SELECT b.w0 AS w0_us, b.w1 AS w1_us, b.w2 AS w2_us,
       CAST(SUM(CASE WHEN (CASE WHEN b.w0 + b.w1 * f.x1 + b.w2 * f.x2 >= 0
                                THEN 1 ELSE 0 END) = f.y
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(count(*) AS BIGINT) AS n_total
FROM feat f, b4 b
GROUP BY b.w0, b.w1, b.w2
""",
    doc=(
        "Logistic regression trained by fixed-round (4) BATCH gradient "
        "descent on integer features (price bucket, order month) "
        "against the urgent/high label — the trained GLM the r9/r10 "
        "verdicts deferred on the sigmoid-transcendental blocker, "
        "unblocked by the rational sigmoid sigma~(z) = 0.5 + "
        "0.5*z/(1+|z|) (only exactly-rounded IEEE ops, so per-row "
        "probabilities are bit-identical across engines) plus "
        "micro-unit gradient quantization (per-row residual rounded "
        "to 1e-6 BEFORE the sum, so the aggregate is an exact "
        "order-free BIGINT). Weights are BIGINT micro-units; the "
        "4-round trajectory hash-replays in the unrolled-CTE oracle. "
        "Decision threshold p >= 1/2 is exactly z_us >= 0 — an "
        "integer comparison. Near-chance accuracy is the honest "
        "expected result on the synthetic fixture (priorities are "
        "random); the gate checks the training algebra, not the "
        "data. Plan per round: one scan of the cached integer "
        "feature projection + a 1-row broadcast of the weights — 4 "
        "map-side-combinable aggregates at any scale, the same "
        "shape a 1000-executor GLM fit actually runs."
    ),
    tags=("statml", "agg", "ml"),
)
def logistic_gd_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat, beta = _logistic_train(spark, sf_dir)
    z_us = (
        F.col("w0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
    )
    pred = F.when(z_us >= 0, F.lit(1)).otherwise(F.lit(0))
    return (
        feat.crossJoin(F.broadcast(beta))
        .groupBy(
            F.col("w0").alias("w0_us"),
            F.col("w1").alias("w1_us"),
            F.col("w2").alias("w2_us"),
        )
        .agg(
            F.sum(F.when(pred == F.col("y"), F.lit(1)).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_correct"),
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
        )
    )


def _logistic_train(spark: SparkSession, sf_dir: str):
    """Shared fixed-round logistic GD trainer: returns (feat, beta) —
    the cached integer feature frame and the 1-row trained-weights
    frame (BIGINT micro-units), mirroring _logistic_ctes exactly."""
    orders = io.load(spark, sf_dir, "orders")
    feat = orders.select(
        F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("x1"),
        F.month("o_orderdate").cast("bigint").alias("x2"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("bigint")
        .alias("y"),
    ).localCheckpoint(eager=False)
    return feat, _logistic_fit(spark, feat)


def _logistic_fit(spark: SparkSession, feat: DataFrame):
    """The GD loop on a given (x1, x2, y) frame — factored out so the
    k-fold CV query can train per held-out fold on the same algebra."""
    beta = spark.createDataFrame([(0, 0, 0)], "w0 long, w1 long, w2 long")
    for _ in range(_LOGISTIC_ROUNDS):
        z = (
            (
                F.col("w0")
                + F.col("w1") * F.col("x1")
                + F.col("w2") * F.col("x2")
            ).cast("double")
            / F.lit(1000000.0)
        )
        p = F.lit(0.5) + F.lit(0.5) * (z / (F.lit(1.0) + F.abs(z)))
        c = F.round((F.col("y").cast("double") - p) * F.lit(1000000.0), 0).cast(
            "bigint"
        )
        step = lambda g: F.round(  # noqa: E731
            g.cast("double") / (F.lit(8.0) * F.count(F.lit(1))), 0
        ).cast("bigint")
        beta = (
            feat.crossJoin(F.broadcast(beta))
            .agg(
                (F.first("w0") + step(F.sum(c))).alias("w0"),
                (F.first("w1") + step(F.sum(c * F.col("x1")))).alias("w1"),
                (F.first("w2") + step(F.sum(c * F.col("x2")))).alias("w2"),
            )
            .localCheckpoint()
        )
    return beta


@register(
    "roc_auc_logistic_score",
    oracle="WITH "
    + _logistic_ctes()
    + """,
scored AS (
  SELECT b.w0 + b.w1 * f.x1 + b.w2 * f.x2 AS score, f.y AS pos
  FROM feat f, b4 b
), by_score AS (
  SELECT score,
         CAST(SUM(pos) AS HUGEINT) AS c_pos,
         CAST(count(*) AS HUGEINT) AS c_all
  FROM scored GROUP BY score
), cum AS (
  SELECT c_pos, c_all,
         SUM(c_all) OVER (ORDER BY score) AS cum_all
  FROM by_score
), s AS (
  SELECT SUM(c_pos * (2 * cum_all - c_all + 1)) AS s2,
         SUM(c_pos) AS n_pos,
         SUM(c_all - c_pos) AS n_neg
  FROM cum
)
SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       CAST(round(CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
                  / CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS DOUBLE) AS auc
FROM s
""",
    doc=(
        "ROC AUC of the TRAINED logistic model's score — closing the "
        "r10 verdict's 'eval band scores synthetic scores, not a "
        "trained model': the score is z_us = w0 + w1*x1 + w2*x2 from "
        "logistic_gd_priority's 4-round GD weights (an exact BIGINT, "
        "monotone in the predicted probability, so ranking by z_us IS "
        "ranking by p), evaluated with the same Mann-Whitney "
        "integer-midrank identity as roc_auc_priority_price — exact "
        "BIGINT rank algebra, one final division rounded 6 dp. The "
        "score-grain cumsum runs through the deterministic-bucket "
        "rank path (score div 2^20 stripes): the fixture's trained "
        "score has ~bounded cardinality, a real model's float scores "
        "do not, and the keyed-window shortcut would be the 100 TB "
        "trap. Plan: the 4 training rounds, then one groupBy + "
        "bucketed cumsum."
    ),
    tags=("statml", "stats", "ml", "window"),
)
def roc_auc_logistic_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.rank import global_rank_cumsum

    feat, beta = _logistic_train(spark, sf_dir)
    scored = feat.crossJoin(F.broadcast(beta)).select(
        (
            F.col("w0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
        ).alias("score"),
        F.col("y").cast("int").alias("pos"),
    )
    by_score = scored.groupBy("score").agg(
        F.sum("pos").alias("c_pos"), F.count(F.lit(1)).alias("c_all")
    )
    cum = global_rank_cumsum(
        by_score,
        ["score"],
        [("cum_all", "c_all")],
        rank_col="__auc_rn",
        bucket_expr=F.floor(F.col("score") / F.lit(1 << 20)),
    )
    s = cum.agg(
        F.sum(
            F.col("c_pos") * (2 * F.col("cum_all") - F.col("c_all") + 1)
        ).alias("s2"),
        F.sum("c_pos").alias("n_pos"),
        F.sum(F.col("c_all") - F.col("c_pos")).alias("n_neg"),
    )
    return s.select(
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        F.round(
            (F.col("s2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Experimentation band: CUPED + difference-in-differences (round-11)
# ---------------------------------------------------------------------------
#
# Float discipline shared by both queries: every MOMENT (per-user cent
# sums, their pooled/variant aggregates, cross products) is an exact
# DECIMAL(38,0) integer — order-free, AQE-safe; the tail that turns
# moments into estimates is a handful of double ops written with the
# IDENTICAL parenthesization in the Spark expression and the oracle,
# so both engines evaluate the same IEEE sequence on the same
# bit-identical inputs, and one final 6-dp rounding closes the hash.


@register(
    "ab_cuped_adjusted_means",
    oracle="""
WITH per_user AS (
  SELECT user_id, user_id % 2 AS variant,
         SUM(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS x_c,
         SUM(CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-15'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS y_c
  FROM events GROUP BY user_id
),
pooled AS (
  SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(SUM(CAST(x_c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(y_c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x_c AS DECIMAL(38,0)) * CAST(y_c AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(x_c AS DECIMAL(38,0)) * CAST(x_c AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS sxx
  FROM per_user
),
by_variant AS (
  SELECT variant,
         CAST(count(*) AS DECIMAL(38,0)) AS nv,
         CAST(SUM(CAST(x_c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxv,
         CAST(SUM(CAST(y_c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syv
  FROM per_user GROUP BY variant
)
SELECT CAST(v.variant AS BIGINT) AS variant,
       CAST(v.nv AS BIGINT) AS n_users,
       CAST(ROUND(CAST(v.syv AS DOUBLE) / CAST(v.nv AS DOUBLE), 6)
            AS DOUBLE) AS mean_y_c,
       CAST(ROUND(
         CAST(v.syv AS DOUBLE) / CAST(v.nv AS DOUBLE)
         - (CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
            / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE))
           * (CAST(v.sxv AS DOUBLE) / CAST(v.nv AS DOUBLE)
              - CAST(p.sx AS DOUBLE) / CAST(p.n AS DOUBLE)), 6)
            AS DOUBLE) AS mean_y_cuped_c
FROM by_variant v, pooled p
""",
    doc=(
        "CUPED variance-reduced A/B means (Deng et al. 2013, the "
        "standard experimentation trick): per-user PRE-period spend "
        "is the covariate, theta = cov(X,Y)/var(X) fitted POOLED "
        "across variants, and each variant's experiment-period mean "
        "is adjusted by -theta*(mean_x_v - mean_x). Variant = "
        "user_id % 2 (a deterministic hash split), pre/exp cut at "
        "Jan 15. All moments are exact DECIMAL(38,0) integer sums of "
        "cents (order-free); theta and the adjustment are one "
        "fixed-parenthesization double expression rounded 6 dp — the "
        "identical IEEE sequence in both engines. Plan: one "
        "user-keyed aggregate (the only corpus-sized shuffle), then "
        "a 2-row variant rollup x a broadcast 1-row pooled-moment "
        "frame — the same shape at 100 TB."
    ),
    tags=("statml", "stats", "agg"),
)
def ab_cuped_adjusted_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    cut = F.lit("2024-01-15").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, cents).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("x_c"),
        F.sum(F.when(F.col("ts") >= cut, cents).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("y_c"),
    ).select(
        (F.col("user_id") % 2).alias("variant"), "x_c", "y_c"
    ).localCheckpoint(eager=False)
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x_c").cast("decimal(38,0)").alias("sx"),
        F.sum("y_c").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x_c") * F.col("y_c")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x_c") * F.col("x_c")).cast("decimal(38,0)").alias("sxx"),
    )
    by_variant = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nv"),
        F.sum("x_c").cast("decimal(38,0)").alias("sxv"),
        F.sum("y_c").cast("decimal(38,0)").alias("syv"),
    )
    j = by_variant.crossJoin(F.broadcast(pooled))
    mean_y = F.col("syv").cast("double") / F.col("nv").cast("double")
    theta = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    adj = mean_y - theta * (
        F.col("sxv").cast("double") / F.col("nv").cast("double")
        - F.col("sx").cast("double") / F.col("n").cast("double")
    )
    return j.select(
        F.col("variant").cast("bigint").alias("variant"),
        F.col("nv").cast("bigint").alias("n_users"),
        F.round(mean_y, 6).alias("mean_y_c"),
        F.round(adj, 6).alias("mean_y_cuped_c"),
    )


@register(
    "ab_diff_in_diff",
    oracle="""
WITH cells AS (
  SELECT user_id % 2 AS variant,
         CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15'
              THEN 0 ELSE 1 END AS period,
         CAST(count(*) AS DECIMAL(38,0)) AS n_events,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DECIMAL(38,0))
           AS s_c
  FROM events GROUP BY 1, 2
)
SELECT CAST(MAX(CASE WHEN variant = 1 AND period = 1 THEN n_events END)
            AS BIGINT) AS n_treat_post,
       CAST(ROUND(
         (MAX(CASE WHEN variant = 1 AND period = 1
                   THEN CAST(s_c AS DOUBLE) / CAST(n_events AS DOUBLE) END)
          - MAX(CASE WHEN variant = 1 AND period = 0
                     THEN CAST(s_c AS DOUBLE) / CAST(n_events AS DOUBLE) END))
         - (MAX(CASE WHEN variant = 0 AND period = 1
                     THEN CAST(s_c AS DOUBLE) / CAST(n_events AS DOUBLE) END)
            - MAX(CASE WHEN variant = 0 AND period = 0
                       THEN CAST(s_c AS DOUBLE) / CAST(n_events AS DOUBLE) END)),
         6) AS DOUBLE) AS did_c
FROM cells
""",
    doc=(
        "Difference-in-differences estimator: (treat_post − treat_pre) "
        "− (ctrl_post − ctrl_pre) of mean event value in cents, "
        "variant = user_id % 2, period cut at Jan 15 — the causal "
        "panel estimator experimentation teams run when assignment "
        "isn't randomized per-exposure. The corpus reduces to FOUR "
        "(variant, period) cells of exact decimal sums in one "
        "map-side-combinable aggregate; the estimator is a "
        "fixed-order double expression over the four cell means, "
        "rounded 6 dp. At 100 TB this is the cheapest query in the "
        "band: one scan, 4 rows of state."
    ),
    tags=("statml", "stats", "agg"),
)
def ab_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    cut = F.lit("2024-01-15").cast("timestamp")
    cells = ev.groupBy(
        (F.col("user_id") % 2).alias("variant"),
        F.when(F.col("ts") < cut, F.lit(0)).otherwise(F.lit(1)).alias("period"),
    ).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_events"),
        F.sum(cents).cast("decimal(38,0)").alias("s_c"),
    )

    def cell_mean(v: int, p: int):
        return F.max(
            F.when(
                (F.col("variant") == v) & (F.col("period") == p),
                F.col("s_c").cast("double") / F.col("n_events").cast("double"),
            )
        )

    return cells.agg(
        F.max(
            F.when(
                (F.col("variant") == 1) & (F.col("period") == 1),
                F.col("n_events"),
            )
        )
        .cast("bigint")
        .alias("n_treat_post"),
        F.round(
            (cell_mean(1, 1) - cell_mean(1, 0))
            - (cell_mean(0, 1) - cell_mean(0, 0)),
            6,
        ).alias("did_c"),
    )


@register(
    "calibration_logistic_trained",
    oracle="WITH "
    + _logistic_ctes()
    + """,
scored AS (
  SELECT CAST(b.w0 + b.w1 * f.x1 + b.w2 * f.x2 AS DOUBLE) / 1000000.0 AS z,
         f.y
  FROM feat f, b4 b
),
p AS (
  SELECT 0.5 + 0.5 * (z / (1.0 + abs(z))) AS p, y FROM scored
)
SELECT LEAST(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(round(CAST(SUM(CAST(ROUND(p * 100000000, 0) AS BIGINT))
                       AS DOUBLE) / (100000000.0 * count(*)), 6)
            AS DOUBLE) AS mean_pred,
       CAST(round(CAST(SUM(y) AS DOUBLE) / count(*), 6) AS DOUBLE)
         AS frac_pos
FROM p GROUP BY bin ORDER BY bin
""",
    doc=(
        "Reliability bins of the TRAINED logistic model's predicted "
        "probabilities — calibration_reliability_bins re-pointed at a "
        "genuinely trained score (the r10 verdict's residue, AUC half "
        "closed by roc_auc_logistic_score; this closes the "
        "calibration half). p = the rational sigmoid of the trained "
        "z (bit-identical doubles in both engines — only "
        "exactly-rounded IEEE ops), binned by decile; per-bin mean "
        "prediction is an ORDER-FREE sum of per-row p quantized to "
        "1e-8 BIGINTs divided once (the micro-unit discipline — a "
        "raw double SUM would be fold-order-sensitive). One scan "
        "after the 4 training rounds, <= 10 bins of state."
    ),
    tags=("statml", "stats", "ml", "agg"),
)
def calibration_logistic_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat, beta = _logistic_train(spark, sf_dir)
    z = (
        (
            F.col("w0")
            + F.col("w1") * F.col("x1")
            + F.col("w2") * F.col("x2")
        ).cast("double")
        / F.lit(1000000.0)
    )
    p = F.lit(0.5) + F.lit(0.5) * (z / (F.lit(1.0) + F.abs(z)))
    scored = feat.crossJoin(F.broadcast(beta)).select(
        p.alias("p"), F.col("y")
    )
    return (
        scored.groupBy(
            F.least(F.floor(F.col("p") * 10), F.lit(9))
            .cast("bigint")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.round(
                F.sum(F.round(F.col("p") * 100000000, 0).cast("bigint")).cast(
                    "double"
                )
                / (F.lit(100000000.0) * F.count(F.lit(1))),
                6,
            ).alias("mean_pred"),
            F.round(
                F.sum("y").cast("double") / F.count(F.lit(1)), 6
            ).alias("frac_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Audience intersection at SKETCH scale (theta/KMV, round-12 widening)
# ---------------------------------------------------------------------------

_AUD_K = 1024
_AUD_SPACE = 1 << 60  # 15 md5 hex digits


def _audience_kmv(spark: SparkSession, sf_dir: str):
    """Build the per-event-type KMV/theta sketch over user-day keys.
    Returns (sample, theta): sample = the retained hashes strictly
    below each type's theta (≤ k rows per type), theta = the k-th
    smallest hash (or the full space for sub-k segments, where
    estimates degrade gracefully to EXACT).  Shared by the
    intersection estimator (audience_overlap_sketch) and the r13
    union/difference set algebra (audience_setalgebra_sketch)."""
    from pyspark.sql.window import Window

    ev = io.load(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
    )
    item = F.concat_ws(
        ":",
        F.col("user_id").cast("string"),
        F.date_format("day", "yyyy-MM-dd"),
    )
    hashed = (
        ev.select(
            "event_type",
            F.conv(F.substring(F.md5(item), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .distinct()  # distinct (type, user-day-hash) = the segment sets
    )
    n_t = hashed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    # pre-prune to ~8k expected smallest per type so the per-type rank
    # never sees a full segment (the 100 TB path: one count + one
    # filter; the 8x margin over k puts a short sample ~26 binomial
    # sigma away — do NOT tighten below ~4x, where the sub-k tail
    # silently corrupts theta)
    thr = n_t.select(
        "event_type",
        F.when(F.col("n") <= 8 * _AUD_K, F.lit(_AUD_SPACE))
        .otherwise(
            (F.lit(float(_AUD_SPACE)) / F.col("n") * (8 * _AUD_K))
            .cast("long")
        )
        .alias("thr"),
    )
    surv = hashed.join(F.broadcast(thr), "event_type").filter(
        F.col("h") < F.col("thr")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = surv.select(
        "event_type", "h", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= _AUD_K)
    theta = ranked.groupBy("event_type").agg(
        F.when(F.count(F.lit(1)) < _AUD_K, F.lit(_AUD_SPACE))
        .otherwise(F.max(F.when(F.col("rn") == _AUD_K, F.col("h"))))
        .alias("theta")
    )
    sample = (
        ranked.join(F.broadcast(theta), "event_type")
        .filter(F.col("h") < F.col("theta"))
        .select("event_type", "h")
    )
    return sample, theta


@register(
    "audience_overlap_sketch",
    oracle=None,
    doc=(
        "Theta/KMV-sketch audience INTERSECTION estimate (r11 verdict "
        "#6): the HLL/CMS/bitmap family covers distinct counts and "
        "point frequencies but no mergeable set-intersection; this is "
        "the sketch a 100 TB overlap report uses instead of "
        "audience_overlap_matrix's exact user-day self-join (the "
        "exact twin, same segment definition). Per event type the "
        "sketch is the k=1024 smallest 60-bit md5 hashes of the "
        "user-day keys — mergeable by construction (union of mins); "
        "theta = the k-th smallest (or the full space when the "
        "segment fits, where the estimate degrades gracefully to "
        "EXACT). Pair estimate: count common hashes below "
        "min(theta_a, theta_b), scale by SPACE/theta — the standard "
        "theta-sketch a-not-b/intersection estimator. Each sketch is "
        "built distributed: a broadcast count prunes to the ~8k "
        "expected survivors per type before the type-partitioned "
        "rank, so no window ever sees a full segment. NO oracle by "
        "contract (the estimate is sampling-dependent); the sweep "
        "bound-checks it against the exact DuckDB intersection "
        "(tools/sweep_config_free.py BOUND_CHECKS) with a stated "
        "3-sigma-style bound, the r11 sketch discipline."
    ),
    tags=("analytics", "agg", "sketch"),
)


def audience_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    sample, theta = _audience_kmv(spark, sf_dir)
    sa = sample.select(F.col("event_type").alias("type_a"), "h")
    sb = sample.select(F.col("event_type").alias("type_b"), "h")
    ta = theta.select(F.col("event_type").alias("type_a"), F.col("theta").alias("th_a"))
    tb = theta.select(F.col("event_type").alias("type_b"), F.col("theta").alias("th_b"))
    common = (
        sa.join(F.broadcast(sb), "h")  # both sides k-bounded (≤ k·T rows) BY CONSTRUCTION — pin the broadcast so the plan cannot drift to a shuffle join on stale size estimates at scale
        .filter(F.col("type_a") < F.col("type_b"))
        .join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .filter(F.col("h") < F.least("th_a", "th_b"))
        .groupBy("type_a", "type_b", "th_a", "th_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return common.select(
        F.concat_ws(":", "type_a", "type_b").alias("pair_key"),
        F.expr(
            f"CAST((CAST(common AS DECIMAL(38,0)) * {_AUD_SPACE}) "
            "div CAST(least(th_a, th_b) AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("est_both"),
        F.col("common").cast("bigint").alias("sample_common"),
    )


@register(
    "audience_setalgebra_sketch",
    oracle=None,
    doc=(
        "Theta-sketch set ALGEBRA — union and both differences from "
        "the SAME KMV samples as audience_overlap_sketch (r12 verdict "
        "#5; shared _audience_kmv builder, so one sketch pass serves "
        "the whole algebra, the point of mergeable sketches). Per "
        "ordered pair on the common theta = min(theta_a, theta_b): "
        "n_a / n_b = each sample's hashes below the common theta, "
        "n_common = shared hashes below it; est_union = "
        "(n_a + n_b - n_common) * SPACE/theta (inclusion-exclusion "
        "INSIDE the uniform sample — exactly the standard theta union "
        "on a common theta), est_a_not_b = (n_a - n_common) * "
        "SPACE/theta (the Dataset-sketches a-not-b estimator), "
        "est_b_not_a symmetric. All three reuse one sample scan: two "
        "broadcast theta joins + one hash equi-join, every aggregate "
        "pair-bounded. NO oracle by contract (sampling-dependent); "
        "the sweep bound-checks union AND differences against exact "
        "DuckDB set sizes (tools/sweep_config_free.py BOUND_CHECKS, "
        "shared phantom-key guard) — union additionally satisfies the "
        "inclusion-exclusion identity with audience_overlap_sketch's "
        "est_both by construction on identical samples."
    ),
    tags=("analytics", "agg", "sketch"),
)
def audience_setalgebra_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    sample, theta = _audience_kmv(spark, sf_dir)
    ta = theta.select(
        F.col("event_type").alias("type_a"), F.col("theta").alias("th_a")
    )
    tb = theta.select(
        F.col("event_type").alias("type_b"), F.col("theta").alias("th_b")
    )
    # per ordered pair (a < b): each side's sample counted below the
    # COMMON theta — a broadcast join of the tiny theta table against
    # the ≤ k·T-row sample, grouped at pair grain
    sa = sample.select(F.col("event_type").alias("type_a"), "h")
    sb = sample.select(F.col("event_type").alias("type_b"), "h")
    na = (
        sa.join(F.broadcast(tb), F.col("type_a") < F.col("type_b"))
        .join(F.broadcast(ta), "type_a")
        .filter(F.col("h") < F.least("th_a", "th_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    nb = (
        sb.join(F.broadcast(ta), F.col("type_a") < F.col("type_b"))
        .join(F.broadcast(tb), "type_b")
        .filter(F.col("h") < F.least("th_a", "th_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    common = (
        sa.join(F.broadcast(sb), "h")  # both sides k-bounded (≤ k·T rows) BY CONSTRUCTION — pin the broadcast so the plan cannot drift to a shuffle join on stale size estimates at scale
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    est = lambda expr: F.expr(  # noqa: E731
        f"CAST((CAST({expr} AS DECIMAL(38,0)) * {_AUD_SPACE}) "
        "div CAST(least(th_a, th_b) AS DECIMAL(38,0)) AS BIGINT)"
    )
    # The pair DOMAIN comes from the theta table (every ordered type
    # pair), not from the counts: under extreme segment-size skew a
    # side can have ZERO sample hashes below the common theta, and an
    # inner join of na×nb would silently drop the pair (ADVICE r13).
    # All three counts left-join onto the domain with fill(0).
    pairs = (
        ta.crossJoin(tb)
        .filter(F.col("type_a") < F.col("type_b"))
    )
    return (
        # broadcast the pair-bounded COUNT sides (a left join preserves
        # its left side, so the domain itself cannot be the build side)
        pairs.join(F.broadcast(na), ["type_a", "type_b"], "left")
        .join(F.broadcast(nb), ["type_a", "type_b"], "left")
        .join(F.broadcast(common), ["type_a", "type_b"], "left")
        .na.fill({"n_a": 0, "n_b": 0, "n_common": 0})
        .select(
            F.concat_ws(":", "type_a", "type_b").alias("pair_key"),
            est("n_a + n_b - n_common").alias("est_union"),
            est("n_a - n_common").alias("est_a_not_b"),
            est("n_b - n_common").alias("est_b_not_a"),
            F.col("n_common").cast("bigint").alias("sample_common"),
        )
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction (round 12; Mondrian per-class variant r13)
# ---------------------------------------------------------------------------


def _conformal_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared conformal scaffolding: the trained-GLM nonconformity
    scores with the deterministic md5 calibration/test fold.  Columns
    (okey, y, p, fold, s): p = rational sigmoid over the BIGINT
    weights (bit-identical cross-engine), s = 1 - p(true class)."""
    _, beta = _logistic_train(spark, sf_dir)
    orders = io.load(spark, sf_dir, "orders")
    feat2 = orders.select(
        F.col("o_orderkey").alias("okey"),
        F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("x1"),
        F.month("o_orderdate").cast("bigint").alias("x2"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("bigint")
        .alias("y"),
    )
    z = (
        F.col("w0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
    ).cast("double") / F.lit(1000000.0)
    p = F.lit(0.5) + F.lit(0.5) * (z / (F.lit(1.0) + F.abs(z)))
    fold = (
        F.conv(F.substring(F.md5(F.col("okey").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % F.lit(2)
    )
    return (
        feat2.crossJoin(F.broadcast(beta))
        .select(
            "okey",
            "y",
            p.alias("p"),
            fold.alias("fold"),
        )
        .select(
            "okey",
            "y",
            "p",
            "fold",
            F.when(F.col("y") == 1, F.lit(1.0) - F.col("p"))
            .otherwise(F.col("p"))
            .alias("s"),
        )
        .localCheckpoint(eager=False)
    )


@register(
    "conformal_priority_coverage",
    oracle="WITH "
    + _logistic_ctes()
    + """,
feat2 AS (
  SELECT o_orderkey AS okey,
         CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS x1,
         CAST(month(o_orderdate) AS BIGINT) AS x2,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
),
sc AS (
  SELECT f.okey, f.y, p,
         CASE WHEN f.y = 1 THEN 1.0 - p ELSE p END AS s,
         CAST('0x' || substr(md5(CAST(f.okey AS VARCHAR)), 1, 8) AS BIGINT)
           % 2 AS fold
  FROM (
    SELECT f0.*, 0.5 + 0.5 * ((CAST(b.w0 + b.w1 * f0.x1 + b.w2 * f0.x2
                                    AS DOUBLE) / 1000000.0)
             / (1.0 + abs(CAST(b.w0 + b.w1 * f0.x1 + b.w2 * f0.x2
                               AS DOUBLE) / 1000000.0))) AS p
    FROM feat2 f0, b4 b
  ) f
),
cal AS (SELECT s FROM sc WHERE fold = 0),
hist AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM cal GROUP BY s),
kk AS (SELECT CAST(count(*) AS BIGINT) AS n_cal,
              (9 * (count(*) + 1) + 9) // 10 AS k
       FROM cal),
cum AS (
  SELECT a.s, SUM(b.n) AS c FROM hist a JOIN hist b ON b.s <= a.s GROUP BY a.s
),
qv AS (
  -- split-conformal small-n contract: when k = ceil(0.9*(n_cal+1))
  -- exceeds n_cal (calibration fold < 9 rows) the conformal quantile
  -- is +infinity — predict ALL classes, coverage 100% — not zero
  SELECT COALESCE(MIN(CASE WHEN cum.c >= kk.k THEN cum.s END),
                  CAST('Infinity' AS DOUBLE)) AS q,
         COALESCE(MIN(kk.n_cal), CAST(0 AS BIGINT)) AS n_cal
  FROM cum, kk
)
SELECT MIN(qv.n_cal) AS n_cal,
       CAST(count(*) AS BIGINT) AS n_test,
       MIN(qv.q) AS q_nonconf,
       CAST(SUM(CASE WHEN t.s <= qv.q THEN 1 ELSE 0 END) AS BIGINT)
         AS n_covered,
       CAST(SUM((CASE WHEN 1.0 - t.p <= qv.q THEN 1 ELSE 0 END)
              + (CASE WHEN t.p <= qv.q THEN 1 ELSE 0 END)) AS BIGINT)
         AS set_size_sum
FROM (SELECT y, p, s FROM sc WHERE fold = 1) t, qv
""",
    doc=(
        "Split-conformal prediction sets for the TRAINED logistic "
        "model (alpha = 0.1): nonconformity = 1 - p(true class) on a "
        "deterministic md5 calibration fold, conformal quantile q = "
        "the ceil(0.9*(n_cal+1))-th smallest calibration score (the "
        "finite-sample marginal-coverage correction), test prediction "
        "set = {classes whose nonconformity <= q}; reports coverage "
        "and total set size as exact BIGINT counts. The distribution-"
        "free eval band's fourth member (AUC = ranking, calibration = "
        "probability, PR = operating point, conformal = COVERAGE "
        "GUARANTEE). Exactness: p is the rational sigmoid over the "
        "BIGINT trained weights (bit-identical), and the quantile "
        "needs NO global sort — the score domain is bounded by "
        "construction (<=|x1 buckets|x|months|x 2 distinct scores), so "
        "a <=288-row histogram + triangular cumsum (the small_df_rank "
        "discipline) yields the exact order statistic with zero "
        "partition-less windows; at 100 TB the histogram stays "
        "domain-bounded while rows grow. The training-on-all-rows "
        "resubstitution caveat is the fixture precedent "
        "(logistic_gd_priority); a production split trains on a third "
        "disjoint fold — identical algebra. Coverage >= the 0.9 "
        "contract is pinned in tests/test_conformal.py."
    ),
    tags=("statml", "ml", "agg"),
)
def conformal_priority_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _conformal_scored(spark, sf_dir)
    cal = sc.filter(F.col("fold") == 0)
    hist = cal.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    kk = cal.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cal"),
        F.expr("(9 * (count(1) + 1) + 9) div 10").cast("bigint").alias("k"),
    )
    a, b = hist.alias("a"), hist.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.s") <= F.col("a.s"))
        .groupBy(F.col("a.s").alias("s"))
        .agg(F.sum(F.col("b.n")).alias("c"))
    )
    # small-n contract: k > n_cal (calibration fold < 9 rows) means the
    # conformal quantile is +infinity — predict ALL classes, coverage
    # 100% — not an empty qv that would invert coverage to zero
    qv = cum.crossJoin(F.broadcast(kk)).agg(
        F.coalesce(
            F.min(F.when(F.col("c") >= F.col("k"), F.col("s"))),
            F.lit(float("inf")),
        ).alias("q"),
        # empty calibration fold -> empty cross join -> NULL min; the
        # contract is n_cal = 0 (and q = +inf), not NULL
        F.coalesce(F.min("n_cal"), F.lit(0).cast("bigint")).alias("n_cal"),
    )
    test = sc.filter(F.col("fold") == 1)
    one = lambda cond: F.when(cond, F.lit(1)).otherwise(F.lit(0))  # noqa: E731
    return test.crossJoin(F.broadcast(qv)).agg(
        F.min("n_cal").alias("n_cal"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.min("q").alias("q_nonconf"),
        F.sum(one(F.col("s") <= F.col("q"))).cast("bigint").alias("n_covered"),
        F.sum(
            one(F.lit(1.0) - F.col("p") <= F.col("q"))
            + one(F.col("p") <= F.col("q"))
        )
        .cast("bigint")
        .alias("set_size_sum"),
    )


@register(
    "conformal_mondrian_by_class",
    oracle="WITH "
    + _logistic_ctes()
    + """,
feat2 AS (
  SELECT o_orderkey AS okey,
         CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS x1,
         CAST(month(o_orderdate) AS BIGINT) AS x2,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
),
sc AS (
  SELECT f.okey, f.y, p,
         CASE WHEN f.y = 1 THEN 1.0 - p ELSE p END AS s,
         CAST('0x' || substr(md5(CAST(f.okey AS VARCHAR)), 1, 8) AS BIGINT)
           % 2 AS fold
  FROM (
    SELECT f0.*, 0.5 + 0.5 * ((CAST(b.w0 + b.w1 * f0.x1 + b.w2 * f0.x2
                                    AS DOUBLE) / 1000000.0)
             / (1.0 + abs(CAST(b.w0 + b.w1 * f0.x1 + b.w2 * f0.x2
                               AS DOUBLE) / 1000000.0))) AS p
    FROM feat2 f0, b4 b
  ) f
),
cal AS (SELECT y, s FROM sc WHERE fold = 0),
hist AS (SELECT y, s, CAST(count(*) AS BIGINT) AS n FROM cal GROUP BY 1, 2),
kk AS (SELECT y, CAST(count(*) AS BIGINT) AS n_cal,
              (9 * (count(*) + 1) + 9) // 10 AS k
       FROM cal GROUP BY 1),
cum AS (
  SELECT a.y, a.s, SUM(b.n) AS c
  FROM hist a JOIN hist b ON b.y = a.y AND b.s <= a.s GROUP BY 1, 2
),
qv0 AS (
  -- per-class small-n contract: a class whose calibration fold is too
  -- small for k = ceil(0.9*(n_y+1)) gets q_y = +infinity (that class
  -- is predicted for everyone — coverage 100%, not zero)
  SELECT kk.y,
         COALESCE(MIN(CASE WHEN cum.c >= kk.k THEN cum.s END),
                  CAST('Infinity' AS DOUBLE)) AS q,
         MIN(kk.n_cal) AS n_cal
  FROM kk JOIN cum ON cum.y = kk.y GROUP BY 1
),
ys(y) AS (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))),
qv AS (
  SELECT ys.y, COALESCE(qv0.q, CAST('Infinity' AS DOUBLE)) AS q,
         COALESCE(qv0.n_cal, CAST(0 AS BIGINT)) AS n_cal
  FROM ys LEFT JOIN qv0 ON qv0.y = ys.y
),
qrow AS (
  SELECT MIN(CASE WHEN y = 0 THEN q END) AS q0,
         MIN(CASE WHEN y = 1 THEN q END) AS q1,
         MIN(CASE WHEN y = 0 THEN n_cal END) AS nc0,
         MIN(CASE WHEN y = 1 THEN n_cal END) AS nc1
  FROM qv
)
SELECT CAST(t.y AS BIGINT) AS y_class,
       CAST(MIN(CASE WHEN t.y = 1 THEN qrow.nc1 ELSE qrow.nc0 END)
            AS BIGINT) AS n_cal,
       CAST(count(*) AS BIGINT) AS n_test,
       MIN(CASE WHEN t.y = 1 THEN qrow.q1 ELSE qrow.q0 END) AS q_nonconf,
       CAST(SUM(CASE WHEN t.s <= (CASE WHEN t.y = 1 THEN qrow.q1
                                       ELSE qrow.q0 END)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       CAST(SUM((CASE WHEN 1.0 - t.p <= qrow.q1 THEN 1 ELSE 0 END)
              + (CASE WHEN t.p <= qrow.q0 THEN 1 ELSE 0 END)) AS BIGINT)
         AS set_size_sum
FROM (SELECT y, p, s FROM sc WHERE fold = 1) t, qrow
GROUP BY 1
""",
    doc=(
        "Mondrian (class-conditional) split-conformal prediction (r12 "
        "verdict #7): conformal_priority_coverage guarantees MARGINAL "
        "coverage only — a model can over-cover the majority class and "
        "under-cover the minority inside the same 90%. Mondrian "
        "calibrates a separate quantile per TRUE class, q_y = the "
        "ceil(0.9*(n_y+1))-th smallest calibration nonconformity among "
        "class-y rows, giving coverage >= 1-alpha PER CLASS (Vovk's "
        "label-conditional taxonomy). Same machinery as the marginal "
        "twin (shared _conformal_scored scaffolding: rational-sigmoid "
        "p over the BIGINT trained weights, md5 fold): the score "
        "histogram is now (class, score)-grained — still domain-"
        "bounded, <=2x288 rows — with the triangular cumsum running "
        "WITHIN class, so the exact per-class order statistic needs "
        "zero partition-less windows and no global sort at any scale. "
        "Prediction set membership tests each class against ITS OWN "
        "quantile ({c: s_c(x) <= q_c}); reporting is grouped by true "
        "class (2 rows). Per-class small-n contract: an undersized "
        "calibration class gets q_y = +infinity (that class predicted "
        "for everyone), via the ys-domain left join. Per-class "
        "coverage >= 0.9 is pinned in tests/test_conformal.py."
    ),
    tags=("statml", "ml", "agg"),
)
def conformal_mondrian_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _conformal_scored(spark, sf_dir)
    cal = sc.filter(F.col("fold") == 0)
    hist = cal.groupBy("y", "s").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    kk = cal.groupBy("y").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cal"),
        F.expr("(9 * (count(1) + 1) + 9) div 10").cast("bigint").alias("k"),
    )
    a, b = hist.alias("a"), hist.alias("b")
    cum = (
        a.join(
            F.broadcast(b),
            (F.col("b.y") == F.col("a.y")) & (F.col("b.s") <= F.col("a.s")),
        )
        .groupBy(F.col("a.y").alias("y"), F.col("a.s").alias("s"))
        .agg(F.sum(F.col("b.n")).alias("c"))
    )
    qv0 = (
        kk.join(cum, "y")
        .groupBy("y")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("c") >= F.col("k"), F.col("s"))),
                F.lit(float("inf")),
            ).alias("q"),
            F.min("n_cal").alias("n_cal"),
        )
    )
    ys = spark.createDataFrame([(0,), (1,)], "y bigint")
    qv = ys.join(qv0, "y", "left").select(
        "y",
        F.coalesce("q", F.lit(float("inf"))).alias("q"),
        F.coalesce("n_cal", F.lit(0).cast("bigint")).alias("n_cal"),
    )
    qrow = qv.agg(
        F.min(F.when(F.col("y") == 0, F.col("q"))).alias("q0"),
        F.min(F.when(F.col("y") == 1, F.col("q"))).alias("q1"),
        F.min(F.when(F.col("y") == 0, F.col("n_cal"))).alias("nc0"),
        F.min(F.when(F.col("y") == 1, F.col("n_cal"))).alias("nc1"),
    )
    test = sc.filter(F.col("fold") == 1)
    q_own = F.when(F.col("y") == 1, F.col("q1")).otherwise(F.col("q0"))
    nc_own = F.when(F.col("y") == 1, F.col("nc1")).otherwise(F.col("nc0"))
    one = lambda cond: F.when(cond, F.lit(1)).otherwise(F.lit(0))  # noqa: E731
    return (
        test.crossJoin(F.broadcast(qrow))
        .groupBy(F.col("y").cast("bigint").alias("y_class"))
        .agg(
            F.min(nc_own).cast("bigint").alias("n_cal"),
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.min(q_own).alias("q_nonconf"),
            F.sum(one(F.col("s") <= q_own)).cast("bigint").alias("n_covered"),
            F.sum(
                one(F.lit(1.0) - F.col("p") <= F.col("q1"))
                + one(F.col("p") <= F.col("q0"))
            )
            .cast("bigint")
            .alias("set_size_sum"),
        )
    )


# ---------------------------------------------------------------------------
# t-closeness audit (round 12) — completes the k-anonymity /
# l-diversity / t-closeness release-gate trio
# ---------------------------------------------------------------------------

_TCLOSE_T = 0.15  # fires 18/125 cohorts at sf0.01; 0 at sf0.1 (expected)


@register(
    "privacy_t_closeness",
    oracle=f"""
WITH b AS (
  SELECT c_nationkey AS nk, c_mktsegment AS seg,
         CAST(floor(c_acctbal / 2000) AS BIGINT) AS band
  FROM customer
),
gl AS (SELECT band, CAST(count(*) AS BIGINT) AS gn FROM b GROUP BY band),
gtot AS (SELECT CAST(SUM(gn) AS BIGINT) AS n_tot,
                CAST(count(*) AS BIGINT) AS m
         FROM gl),
gcum AS (
  SELECT a.band, CAST(SUM(g2.gn) AS BIGINT) AS gcum
  FROM gl a JOIN gl g2 ON g2.band <= a.band GROUP BY a.band
),
coh AS (SELECT nk, seg, CAST(count(*) AS BIGINT) AS n_coh
        FROM b GROUP BY nk, seg),
ch AS (SELECT nk, seg, band, CAST(count(*) AS BIGINT) AS cn
       FROM b GROUP BY nk, seg, band),
grid AS (
  SELECT coh.nk, coh.seg, coh.n_coh, g.band, COALESCE(ch.cn, 0) AS cn
  FROM coh CROSS JOIN gl g
  LEFT JOIN ch ON ch.nk = coh.nk AND ch.seg = coh.seg AND ch.band = g.band
),
ccum AS (
  SELECT nk, seg, n_coh, band,
         SUM(cn) OVER (PARTITION BY nk, seg ORDER BY band
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS ccum
  FROM grid
),
emd AS (
  SELECT c.nk, c.seg, MIN(c.n_coh) AS n_coh,
         CAST(SUM(ABS(c.ccum * t.n_tot - g.gcum * c.n_coh)) AS BIGINT)
           AS emd_num,
         MIN(t.n_tot) AS n_tot, MIN(t.m) AS m
  FROM ccum c JOIN gcum g USING (band) CROSS JOIN gtot t
  GROUP BY c.nk, c.seg
)
SELECT nk AS nationkey, seg AS segment, n_coh, emd_num,
       CAST(emd_num AS DOUBLE) / CAST((m - 1) * n_coh * n_tot AS DOUBLE)
         AS emd,
       CAST(emd_num AS DOUBLE) / CAST((m - 1) * n_coh * n_tot AS DOUBLE)
         > {_TCLOSE_T} AS violates_t
FROM emd
""",
    doc=(
        "t-closeness audit (Li/Li/Venkatasubramanian) — completes the "
        "release-gate trio: k-anonymity bounds cohort SIZE, "
        "l-diversity bounds sensitive-value VARIETY, t-closeness "
        "bounds the sensitive-value DISTRIBUTION's distance from the "
        "global one (a cohort can be large and varied yet still leak "
        "if it skews rich). Distance = earth-mover's over the ORDERED "
        "acctbal bands, which for 1-D equal-spaced buckets reduces to "
        "the mean absolute CDF gap: EMD = sum_i |ccum_i*N - gcum_i*n| "
        "/ ((m-1)*n*N) — the numerator an exact BIGINT on the common "
        "denominator n*N (no per-band division, no float in the sum), "
        "one double division at the end. Cumsum windows ride the "
        "(QI, band) grid whose per-key row count is the BAND DOMAIN "
        "(6), not data; the global CDF is a triangular join on the "
        "m-row histogram — zero partition-less windows, audit cost = "
        "one scan + QI-bounded state at any scale (the denominator "
        "product n*N*(m-1) <= ~1e17 at 1e8-row cohorts stays inside "
        "BIGINT; swap the final division to decimal(38) beyond). "
        "Threshold t = 0.15 fires 18/125 cohorts at sf0.01 and 0 at "
        "sf0.1 — small cohorts drift, large ones converge: the "
        "audit's expected steady state on clean data (the l-diversity "
        "precedent). Non-vacuity + an independent Python EMD replay "
        "pinned in tests/test_privacy_tcloseness.py."
    ),
    tags=("agg", "quality"),
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cust = io.load(spark, sf_dir, "customer")
    b = cust.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("band"),
    )
    gl = b.groupBy("band").agg(F.count(F.lit(1)).cast("bigint").alias("gn"))
    gtot = gl.agg(
        F.sum("gn").cast("bigint").alias("n_tot"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    ga = gl.select(F.col("band"), F.col("gn"))
    gb = gl.select(F.col("band").alias("band2"), F.col("gn").alias("gn2"))
    gcum = (
        ga.join(F.broadcast(gb), F.col("band2") <= F.col("band"))
        .groupBy("band")
        .agg(F.sum("gn2").cast("bigint").alias("gcum"))
    )
    coh = b.groupBy("nk", "seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_coh")
    )
    ch = b.groupBy("nk", "seg", "band").agg(
        F.count(F.lit(1)).cast("bigint").alias("cn")
    )
    grid = (
        coh.crossJoin(F.broadcast(gl.select("band")))
        .join(ch, ["nk", "seg", "band"], "left")
        .select(
            "nk", "seg", "n_coh", "band", F.coalesce("cn", F.lit(0)).alias("cn")
        )
    )
    # per-key rows = the band DOMAIN (6), bounded by construction
    w = (
        Window.partitionBy("nk", "seg")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ccum = grid.withColumn("ccum", F.sum("cn").over(w))
    agg = (
        ccum.join(F.broadcast(gcum), "band")
        .crossJoin(F.broadcast(gtot))
        .groupBy("nk", "seg")
        .agg(
            F.min("n_coh").alias("n_coh"),
            F.sum(
                F.abs(
                    F.col("ccum") * F.col("n_tot")
                    - F.col("gcum") * F.col("n_coh")
                )
            )
            .cast("bigint")
            .alias("emd_num"),
            F.min("n_tot").alias("n_tot"),
            F.min("m").alias("m"),
        )
    )
    emd = F.col("emd_num").cast("double") / (
        (F.col("m") - 1) * F.col("n_coh") * F.col("n_tot")
    ).cast("double")
    return agg.select(
        F.col("nk").alias("nationkey"),
        F.col("seg").alias("segment"),
        "n_coh",
        "emd_num",
        emd.alias("emd"),
        (emd > F.lit(_TCLOSE_T)).alias("violates_t"),
    )


# ---------------------------------------------------------------------------
# k-fold cross-validation of the logistic trainer (round 12)
# ---------------------------------------------------------------------------

_CV_FOLDS = 5


def _logistic_cv_oracle() -> str:
    """Unrolled CTE oracle: ONE fold-tagged feature CTE, then per fold
    an independent _LOGISTIC_ROUNDS-round GD trajectory on the complement and
    an accuracy row on the held-out fold — the _logistic_ctes shape
    replicated k times (the BPE/logistic unrolling discipline)."""
    zf = "CAST(b.w0 + b.w1 * f.x1 + b.w2 * f.x2 AS DOUBLE) / 1000000.0"
    blocks = [
        """featk AS MATERIALIZED (
  SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS x1,
         CAST(month(o_orderdate) AS BIGINT) AS x2,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y,
         CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
              AS BIGINT) % {folds} AS fold
  FROM orders
)""".replace("{folds}", str(_CV_FOLDS))
    ]
    for k in range(_CV_FOLDS):
        blocks.append(
            f"""tr{k} AS MATERIALIZED (
  SELECT x1, x2, y FROM featk WHERE fold <> {k}
)"""
        )
        blocks.append(
            f"""b{k}_0 AS (SELECT CAST(0 AS BIGINT) AS w0,
                    CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2)"""
        )
        for i in range(1, _LOGISTIC_ROUNDS + 1):
            blocks.append(
                f"""b{k}_{i} AS (
  SELECT bw0 + CAST(ROUND(CAST(SUM(c) AS DOUBLE) / (8.0 * count(*)), 0)
               AS BIGINT) AS w0,
         bw1 + CAST(ROUND(CAST(SUM(c * x1) AS DOUBLE) / (8.0 * count(*)), 0)
               AS BIGINT) AS w1,
         bw2 + CAST(ROUND(CAST(SUM(c * x2) AS DOUBLE) / (8.0 * count(*)), 0)
               AS BIGINT) AS w2
  FROM (
    SELECT f.x1, f.x2, b.w0 AS bw0, b.w1 AS bw1, b.w2 AS bw2,
           CAST(ROUND((CAST(f.y AS DOUBLE)
                 - (0.5 + 0.5 * (({zf})
                     / (1.0 + abs({zf}))))) * 1000000.0, 0)
                AS BIGINT) AS c
    FROM tr{k} f, b{k}_{i - 1} b
  ) t
  GROUP BY bw0, bw1, bw2
)"""
            )
    evals = "\nUNION ALL\n".join(
        f"""SELECT CAST({k} AS BIGINT) AS fold,
       b.w0 AS w0_us, b.w1 AS w1_us, b.w2 AS w2_us,
       CAST(SUM(CASE WHEN (CASE WHEN b.w0 + b.w1 * f.x1 + b.w2 * f.x2 >= 0
                                THEN 1 ELSE 0 END) = f.y
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(count(*) AS BIGINT) AS n_test
FROM featk f, b{k}_{_LOGISTIC_ROUNDS} b
WHERE f.fold = {k}
GROUP BY b.w0, b.w1, b.w2"""
        for k in range(_CV_FOLDS)
    )
    return "WITH " + ",\n".join(blocks) + "\n" + evals


@register(
    "cv_logistic_fold_accuracy",
    oracle=_logistic_cv_oracle(),
    doc=(
        "5-fold cross-validation of the logistic GD trainer: fold = "
        "portable md5(o_orderkey) % 5, each fold's model trained on "
        "the 4/5 complement by the SAME fixed-round integer-micro-unit "
        "GD (statml.py:_logistic_fit) and scored on the held-out fold "
        "with the exact z >= 0 integer decision — the model-selection "
        "protocol every real training pipeline runs, now with all FIVE "
        "trajectories hash-replayed by a 5x-unrolled CTE oracle (the "
        "logistic/BPE unrolling discipline, 20 GD rounds total). "
        "Per-fold weights differ (different 12k-row subsets), so the "
        "output pins genuinely distinct trainings, not one model "
        "copied five times. Plan: ONE cached fold-tagged feature scan; "
        "per fold per round one map-side-combinable aggregate of 3 "
        "BIGINTs over the filtered cache + a 1-row broadcast — k*r "
        "cheap passes, the honest CV cost, embarrassingly parallel "
        "across folds on a real cluster. Near-chance accuracy is the "
        "expected fixture result (see logistic_gd_priority); fold "
        "disjointness + weight diversity pinned in "
        "tests/test_cv_logistic.py."
    ),
    tags=("statml", "ml", "agg"),
)
def cv_logistic_fold_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = io.load(spark, sf_dir, "orders")
    feat = orders.select(
        F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("x1"),
        F.month("o_orderdate").cast("bigint").alias("x2"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("bigint")
        .alias("y"),
        (
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % _CV_FOLDS
        ).alias("fold"),
    ).localCheckpoint(eager=False)
    out = None
    for k in range(_CV_FOLDS):
        beta = _logistic_fit(spark, feat.filter(F.col("fold") != k))
        z_us = (
            F.col("w0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
        )
        pred = F.when(z_us >= 0, F.lit(1)).otherwise(F.lit(0))
        ev = (
            feat.filter(F.col("fold") == k)
            .crossJoin(F.broadcast(beta))
            .groupBy(
                F.col("w0").alias("w0_us"),
                F.col("w1").alias("w1_us"),
                F.col("w2").alias("w2_us"),
            )
            .agg(
                F.sum(F.when(pred == F.col("y"), F.lit(1)).otherwise(F.lit(0)))
                .cast("bigint")
                .alias("n_correct"),
                F.count(F.lit(1)).cast("bigint").alias("n_test"),
            )
            .select(
                F.lit(k).cast("bigint").alias("fold"),
                "w0_us",
                "w1_us",
                "w2_us",
                "n_correct",
                "n_test",
            )
        )
        out = ev if out is None else out.unionByName(ev)
    return out
