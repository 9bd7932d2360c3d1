"""Join band of SURVEY.md §2B: broadcast, shuffle (sort-merge), all
outer variants, semi/anti, theta, range, and as-of.

The reference expresses only the repartition equi-join (tag records
in mapf, cross tag-groups in reducef — SURVEY.md §2B); everything
here is a named Catalyst join strategy instead. Strategy choices that
matter at 100 TB:
- dimension tables (region 5 rows, nation 25) are broadcast
  explicitly — no shuffle of the fact side at all;
- fact⋈fact (orders⋈lineitem) shuffles both sides on the key once —
  sort-merge with AQE skew splitting;
- the as-of join is the union+window form: one shuffle, no range
  explosion (operators/asof.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import io
from tda596_lab02mapreduce_spark.operators.asof import asof_join
from tda596_lab02mapreduce_spark.operators.skew import salted_join
from tda596_lab02mapreduce_spark.registry import register


@register(
    "join_broadcast_dim",
    oracle="""
SELECT r_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    doc="Star-schema rollup; both dims broadcast (asserted in tests/test_plans.py).",
    tags=("join", "broadcast"),
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = io.load(spark, sf_dir, "customer")
    nation = io.load(spark, sf_dir, "nation")
    region = io.load(spark, sf_dir, "region")
    return (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_acctbal"),
        )
    )


@register(
    "join_sortmerge_revenue",
    oracle="""
SELECT o_orderpriority,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
""",
    doc="Fact⋈fact equi-join: both sides shuffle on the key once, sort-merge; AQE skew-join handles hot keys.",
    tags=("join",),
)
def join_sortmerge_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = io.load(spark, sf_dir, "orders")
    li = io.load(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
SELECT c_custkey,
       CAST(count(o_orderkey) AS BIGINT) AS n_orders,
       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS sum_spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
""",
    doc="Left outer: customers kept at zero orders (reduce-side join emitting nulls, in reference terms).",
    tags=("join", "outer"),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = io.load(spark, sf_dir, "customer")
    orders = io.load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), F.lit(0)
            )
            .cast("double")
            .alias("sum_spend"),
        )
    )


@register(
    "join_full_outer",
    oracle="""
SELECT COALESCE(c.nk, s.nk) AS nationkey,
       CAST(COALESCE(c.n_cust, 0) AS BIGINT) AS n_cust,
       CAST(COALESCE(s.n_supp, 0) AS BIGINT) AS n_supp
FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY c_nationkey) c
FULL JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY s_nationkey) s
  ON c.nk = s.nk
""",
    doc="Full outer over two pre-aggregates (nations having only customers or only suppliers survive).",
    tags=("join", "outer"),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        io.load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        io.load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cust.join(supp, "nk", "full").select(
        F.coalesce(cust.nk, supp.nk).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@register(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
""",
    doc="Left-semi (EXISTS): probe side never duplicates, only the key travels.",
    tags=("join", "semi"),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = io.load(spark, sf_dir, "customer")
    big_orders = io.load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return customer.join(
        big_orders, customer.c_custkey == big_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
SELECT c_custkey, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
""",
    doc=(
        "Left-anti (NOT EXISTS): customers with no URGENT-priority "
        "order. (The unfiltered 'never ordered' form is vacuously "
        "empty on the fixtures — every customer orders — and an empty "
        "result passes any oracle; the priority filter keeps the "
        "anti-join shape with a non-degenerate answer.)"
    ),
    tags=("join", "anti"),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = io.load(spark, sf_dir, "customer")
    orders = io.load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


@register(
    "join_theta_pairs",
    oracle="""
SELECT n1.n_name AS nation_a, n2.n_name AS nation_b, r_name
FROM nation n1
JOIN nation n2 ON n1.n_regionkey = n2.n_regionkey AND n1.n_name < n2.n_name
JOIN region ON n1.n_regionkey = r_regionkey
""",
    doc=(
        "Theta join (equi on region + inequality on name): Catalyst evaluates the "
        "non-equi conjunct as a post-join residual; with a broadcast side this is "
        "BroadcastHashJoin + filter, never a full cross product."
    ),
    tags=("join", "theta"),
)
def join_theta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    n1 = io.load(spark, sf_dir, "nation").alias("n1")
    n2 = io.load(spark, sf_dir, "nation").alias("n2")
    region = io.load(spark, sf_dir, "region")
    return (
        n1.join(
            F.broadcast(n2),
            (F.col("n1.n_regionkey") == F.col("n2.n_regionkey"))
            & (F.col("n1.n_name") < F.col("n2.n_name")),
        )
        .join(F.broadcast(region), F.col("n1.n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("n1.n_name").alias("nation_a"),
            F.col("n2.n_name").alias("nation_b"),
            "r_name",
        )
    )


@register(
    "join_range_band",
    oracle="""
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_in_band,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS band_qty
FROM lineitem
JOIN part ON l_partkey = p_partkey
         AND l_quantity BETWEEN p_size - 5 AND p_size + 5
GROUP BY p_brand
""",
    doc=(
        "Range/band join: equi key carries the shuffle, the band predicate is a "
        "residual — no interval explosion. (A keyless band join would need "
        "bucketized interval replication; not required by the fixture workload.)"
    ),
    tags=("join", "range"),
)
def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    part = io.load(spark, sf_dir, "part")
    return (
        li.join(
            part,
            (li.l_partkey == part.p_partkey)
            & (li.l_quantity >= part.p_size - 5)
            & (li.l_quantity <= part.p_size + 5),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_in_band"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("band_qty"),
        )
    )


@register(
    "join_cross_small",
    oracle="""
SELECT r1.r_name AS region_a, r2.r_name AS region_b
FROM region r1 CROSS JOIN region r2
""",
    doc="Explicit cross join (BroadcastNestedLoopJoin) — only ever legal on bounded-small relations.",
    tags=("join", "cross"),
)
def join_cross_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    r1 = io.load(spark, sf_dir, "region").select(F.col("r_name").alias("region_a"))
    r2 = io.load(spark, sf_dir, "region").select(F.col("r_name").alias("region_b"))
    return r1.crossJoin(F.broadcast(r2))


@register(
    "join_asof_purchase_click",
    oracle="""
SELECT p.event_id,
       p.user_id,
       epoch_us(p.ts) AS purchase_us,
       epoch_us(c.ts) AS click_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
    doc=(
        "As-of join: each purchase matched to the user's latest prior click. "
        "Spark side is operators/asof.py (union + window, one shuffle); DuckDB "
        "side is its native ASOF JOIN. Timestamps projected as epoch "
        "microseconds (bigint) — representation-stable across engines."
    ),
    tags=("join", "asof"),
)
def join_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = io.load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=[],
        how="inner",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.unix_micros("asof_ts").alias("click_us"),
    )


@register(
    "join_salted_skew",
    oracle="""
SELECT s_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
""",
    doc=(
        "Skew-proof equi-join via explicit salting (operators/skew.py): the "
        "probe side spreads each hot key across salt_buckets sub-keys, the "
        "build side replicates once per salt. Result must be row-identical "
        "to the plain join — which is exactly what the oracle checks."
    ),
    tags=("join", "skew"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").withColumnRenamed("l_suppkey", "s_suppkey")
    supplier = io.load(spark, sf_dir, "supplier")
    return (
        salted_join(li, supplier, "s_suppkey", salt_buckets=8)
        .groupBy("s_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "join_bucketed_revenue",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
""",
    doc=(
        "Shuffle-free co-located join over bucketed storage: both fact "
        "tables are written bucketBy(8, orderkey) + sortBy, so the "
        "sort-merge join consumes the storage layout directly — zero "
        "Exchange under the join (pinned in tests/test_plans.py). At "
        "100 TB this is THE repeated-join strategy: pay the shuffle once "
        "at write time, never per query. The merge hint (not a session "
        "conf) keeps the small local fixture off the broadcast path so "
        "the plan under test is the plan at scale."
    ),
    tags=("join", "bucketed", "source"),
)
def join_bucketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.queries.sinks import _sink_path

    # EXTERNAL tables whose files live in the per-process sink scratch:
    # removed at exit, reaped after a crash, never left in the warehouse.
    # The default catalog is in-memory, so it is per process too and the
    # names cannot collide across processes.
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_").replace("-", "_")
    ob, lb = f"orders_bucketed_{tag}", f"lineitem_bucketed_{tag}"
    # write-once per session: rebucketing 60k rows is cheap, but skip it
    # when the tables already exist in this catalog
    for name, source, key in (
        (ob, "orders", "o_orderkey"),
        (lb, "lineitem", "l_orderkey"),
    ):
        if not spark.catalog.tableExists(name):
            (
                io.load(spark, sf_dir, source)
                .write.mode("overwrite")
                .option("path", _sink_path(sf_dir, f"{source}_bucketed"))
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(name)
            )
    return (
        spark.table(ob)
        .hint("merge")
        .join(spark.table(lb), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "join_bloom_pruned_revenue",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
""",
    doc=(
        "Runtime Bloom-filter semi-join reduction as a query (§2C row, "
        "was test-only in r2): a selective filter on orders lets "
        "Catalyst build a Bloom filter from the filtered build side "
        "and push a might_contain probe into the lineitem scan stage — "
        "at 100 TB this drops ~80% of probe rows BEFORE the exchange, "
        "which is the difference between shuffling the whole fact "
        "table and shuffling a fifth of it. Broadcast is disabled and "
        "the scan-size threshold zeroed while THIS query executes "
        "(fixtures are tiny; at scale the defaults fire on their own), "
        "and the plan is materialized eagerly via localCheckpoint so "
        "the Bloom path is what actually runs before the confs are "
        "restored. The bloom_filter_agg/might_contain plan shape is "
        "pinned in tests/test_plans.py."
    ),
    tags=("join", "plan"),
)
def join_bloom_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved: dict[str, str | None] = {}
    for k in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        urgent = io.load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = io.load(spark, sf_dir, "lineitem")
        agg = (
            li.join(urgent, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                )
                .cast("double")
                .alias("revenue"),
            )
        )
        # eager: execute under the bloom confs, keep only the tiny
        # aggregated partitions — distributed, no driver round-trip
        return agg.localCheckpoint(eager=True)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@register(
    "join_fuzzy_name_match",
    oracle="""
SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
""",
    doc=(
        "Blocked fuzzy self-join (entity resolution): customer names "
        "within the same nation block matched at Levenshtein distance "
        "<= 2. The edit-distance verify runs ONLY inside equi-join "
        "blocks — the universal fuzzy-match shape at scale: a "
        "quadratic verifier is fine when candidate generation is a "
        "hash partition (here the nation key; in production a "
        "phonetic/prefix/LSH key), never corpus x corpus. Spark and "
        "DuckDB both implement standard Levenshtein, so the distances "
        "hash-match exactly."
    ),
    tags=("join", "llm"),
)
def join_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = io.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    a, b = cust.alias("a"), cust.alias("b")
    dist = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("key_a"),
            F.col("b.c_custkey").alias("key_b"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") <= 2)
    )


@register(
    "join_null_safe_cohorts",
    oracle="""
WITH u AS (
  SELECT DISTINCT user_id,
         CASE WHEN user_id % 7 = 0 THEN NULL
              ELSE user_id % 4 END AS cohort
  FROM events
)
SELECT a.cohort,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM u a JOIN u b
  ON a.cohort IS NOT DISTINCT FROM b.cohort
 AND a.user_id < b.user_id
GROUP BY a.cohort
""",
    doc=(
        "Null-safe equality join (<=> / IS NOT DISTINCT FROM): users "
        "whose cohort is UNKNOWN (derived sentinel-cleanup NULLs) "
        "still pair with each other — the semantics a plain = join "
        "silently drops. The scale property worth proving: Spark "
        "keeps <=> as a hash-partitionable equi-join key (coalesced "
        "internally), so the plan stays a shuffled equi-join, never "
        "a nested loop over the NULL bucket (pinned in "
        "tests/test_plans.py). Note the NULL cohort is also the "
        "textbook skew key: at scale you'd salt it like "
        "join_salted_skew."
    ),
    tags=("join",),
)
def join_null_safe_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        io.load(spark, sf_dir, "events")
        .select(
            "user_id",
            F.when(F.col("user_id") % 7 == 0, F.lit(None).cast("bigint"))
            .otherwise(F.col("user_id") % 4)
            .alias("cohort"),
        )
        .distinct()
    )
    a, b = u.alias("a"), u.alias("b")
    return (
        a.join(
            b,
            F.col("a.cohort").eqNullSafe(F.col("b.cohort"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(F.col("a.cohort").alias("cohort"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "join_asof_forward_click",
    oracle="""
SELECT p.event_id,
       p.user_id,
       epoch_us(p.ts) AS purchase_us,
       epoch_us(c.ts) AS next_click_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts <= c.ts
""",
    doc=(
        "FORWARD as-of join: each purchase matched to the user's "
        "EARLIEST subsequent click — the next-event attribution shape "
        "(post-purchase behavior, conversion-to-return intervals). "
        "Same one-shuffle union+window operator as the backward "
        "variant, walked in descending ts order "
        "(operators/asof.py:asof_join direction='forward'); DuckDB's "
        "native ASOF JOIN with p.ts <= c.ts is the oracle. Timestamps "
        "projected as epoch microseconds for representation-stable "
        "hashing."
    ),
    tags=("join", "asof"),
)
def join_asof_forward_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = io.load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=[],
        how="inner",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.unix_micros("asof_ts").alias("next_click_us"),
    )


@register(
    "join_asof_anti_cold_purchases",
    oracle="""
SELECT p.event_id, p.user_id, epoch_us(CAST(p.ts AS TIMESTAMP)) AS purchase_us
FROM events p
WHERE p.event_type = 'purchase'
  AND NOT EXISTS (
    SELECT 1 FROM events c
    WHERE c.event_type = 'click'
      AND c.user_id = p.user_id
      AND c.ts <= p.ts
      AND c.ts >= p.ts - INTERVAL 30 MINUTE
  )
""",
    doc=(
        "As-of ANTI join — the negative space of the attribution "
        "family: purchases with NO click by the same user in the "
        "preceding 30 minutes ('cold' conversions, the rows every "
        "attribution model silently drops and every funnel analyst "
        "eventually asks for). Built as the tolerance-bounded LEFT "
        "as-of walk (operators/asof.py: one union + one user-keyed "
        "window, single shuffle — identical cost to the positive "
        "join) filtered to null matches; the oracle is the "
        "independent NOT EXISTS band formulation. Same one-Exchange "
        "posture as join_asof_purchase_click at any scale."
    ),
    tags=("join", "asof", "anti"),
)
def join_asof_anti_cold_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = io.load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=[],
        tolerance=F.expr("INTERVAL 30 MINUTES"),
        how="left",
    )
    return joined.filter(F.col("asof_ts").isNull()).select(
        "event_id", "user_id", F.unix_micros("ts").alias("purchase_us")
    )


@register(
    "join_sorted_neighborhood_pairs",
    oracle="""
WITH ranked AS (
  SELECT c_custkey, c_name,
         row_number() OVER (ORDER BY c_name) AS rn
  FROM customer
), offs AS (SELECT unnest([1, 2]) AS off)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS lev
FROM ranked a
JOIN offs ON true
JOIN ranked b ON b.rn = a.rn + off
WHERE levenshtein(a.c_name, b.c_name) <= 2
""",
    doc=(
        "Sorted-neighborhood entity-resolution blocking (Hernandez & "
        "Stolfo's SNM): globally sort the records on the blocking key, "
        "slide a window of w=3, and emit only the in-window pairs that "
        "pass the expensive similarity predicate (levenshtein ≤ 2) — "
        "the classic linear-candidate alternative to the quadratic "
        "all-pairs match, complementary to the prefix/LSH blocking the "
        "dedup band uses.  Spark-first shape: the global sort position "
        "comes from functions.rank.global_rank_cumsum (range-"
        "partitioned local ranks + broadcast offsets — NEVER a "
        "partition-less window), and 'adjacency within w' becomes an "
        "EQUI-join on rank = rank + off after exploding the tiny "
        "offset table, so Catalyst plans a hash join keyed on the "
        "rank, not a range nested loop.  Candidates are O(n·w); the "
        "levenshtein runs on candidates only.  Mixed outcomes are "
        "structural in the fixture (adjacent zero-padded names differ "
        "by 1-3 edits), so the predicate genuinely filters."
    ),
    tags=("join", "dedup", "text"),
)
def join_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.rank import global_rank_cumsum

    cust = io.load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    ranked = global_rank_cumsum(cust, ["c_name"], rank_col="rn")
    offs = F.broadcast(
        spark.createDataFrame([(1,), (2,)], "off int")
    )
    a = ranked.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        F.col("rn").alias("rn_a"),
    )
    b = ranked.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
        F.col("rn").alias("rn_b"),
    )
    lev = F.levenshtein("name_a", "name_b")
    return (
        a.join(offs, F.lit(True))
        .withColumn("__probe_rn", F.col("rn_a") + F.col("off"))
        .join(b, F.col("__probe_rn") == F.col("rn_b"))
        .filter(lev <= 2)
        .select("id_a", "id_b", lev.cast("int").alias("lev"))
    )


@register(
    "join_interval_overlap",
    oracle="""
WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
),
sess AS (
  SELECT user_id, session_id,
         epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
  FROM numbered GROUP BY user_id, session_id
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(count(*) AS BIGINT) AS n_session_overlaps
FROM sess a JOIN sess b
  ON a.user_id < b.user_id AND a.s_us <= b.e_us AND b.s_us <= a.e_us
GROUP BY 1, 2
""",
    doc=(
        "Interval OVERLAP join (the general two-sided form the as-of "
        "band doesn't cover): pairs of DIFFERENT users whose sessions "
        "overlap in time — co-presence / concurrent-activity analysis."
        "  The naive form is a range-predicate join (quadratic "
        "nested-loop at scale); the registered plan is the classic "
        "BIN JOIN: each session explodes to the 1-hour grid cells it "
        "touches (sessions are gap-bounded, so the per-session cell "
        "count is small), candidates come from an EQUI-join on the "
        "cell — hash-partitioned, no nested loop — the exact overlap "
        "predicate filters, and a distinct on the session-pair key "
        "removes multi-cell double-counts before the pair rollup.  "
        "The oracle is the brute-force range join (the SPEC), so the "
        "hash check proves the bin decomposition exact, including "
        "both touching-endpoint conventions (inclusive ends).  At "
        "100 TB bin width trades fan-out against candidate "
        "selectivity per the session-length distribution; cells keyed "
        "(cell) hash-spread regardless of time skew hotspots would "
        "need salting only if one HOUR dominates globally."
    ),
    tags=("join", "timeseries", "sessionize"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    CELL_US = 3_600_000_000
    ev = io.load(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    numbered = ev.withColumn(
        "session_id",
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )
    sess = numbered.groupBy("user_id", "session_id").agg(
        F.unix_micros(F.min("ts")).alias("s_us"),
        F.unix_micros(F.max("ts")).alias("e_us"),
    )
    cells = sess.select(
        "user_id",
        "session_id",
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                F.floor(F.col("s_us") / F.lit(CELL_US)),
                F.floor(F.col("e_us") / F.lit(CELL_US)),
            )
        ).alias("cell"),
    )
    a = cells.select(
        F.col("cell"),
        F.col("user_id").alias("user_a"),
        F.col("session_id").alias("sess_a"),
        F.col("s_us").alias("sa"),
        F.col("e_us").alias("ea"),
    )
    b = cells.select(
        F.col("cell"),
        F.col("user_id").alias("user_b"),
        F.col("session_id").alias("sess_b"),
        F.col("s_us").alias("sb"),
        F.col("e_us").alias("eb"),
    )
    pairs = (
        a.join(b, "cell")
        .filter(
            (F.col("user_a") < F.col("user_b"))
            & (F.col("sa") <= F.col("eb"))
            & (F.col("sb") <= F.col("ea"))
        )
        .select("user_a", "sess_a", "user_b", "sess_b")
        .distinct()
    )
    return pairs.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).alias("n_session_overlaps")
    )


@register(
    "join_asof_nearest_click",
    oracle="""
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
b AS (
  SELECT p.event_id, max(c.ts) AS bts
  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
  GROUP BY p.event_id
),
f AS (
  SELECT p.event_id, min(c.ts) AS fts
  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts > p.ts
  GROUP BY p.event_id
)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
       CASE WHEN b.bts IS NULL THEN epoch_us(f.fts)
            WHEN f.fts IS NULL THEN epoch_us(b.bts)
            WHEN epoch_us(p.ts) - epoch_us(b.bts)
                 <= epoch_us(f.fts) - epoch_us(p.ts) THEN epoch_us(b.bts)
            ELSE epoch_us(f.fts)
       END AS nearest_click_us
FROM p JOIN b USING (event_id) JOIN f USING (event_id)
WHERE b.bts IS NOT NULL OR f.fts IS NOT NULL
""",
    doc=(
        "NEAREST as-of join (pandas merge_asof direction='nearest'): "
        "each purchase matched to the user's temporally closest click "
        "in EITHER direction, microsecond gaps, ties to the backward "
        "match. Completes the as-of family (backward / forward / anti "
        "/ band / nearest). The Spark plan is ONE tagged-union window "
        "pass computing both the running-last backward candidate and "
        "the tail-first forward candidate in the same user-keyed "
        "shuffle, then a row-local gap pick "
        "(operators/asof.py direction='nearest') — the oracle's "
        "two-sided LEFT JOIN + argmin spec is the quadratic form the "
        "operator exists to avoid. Same one-shuffle scale posture as "
        "join_asof_purchase_click."
    ),
    tags=("join", "asof"),
)
def join_asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = io.load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=[],
        how="inner",
        direction="nearest",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.unix_micros("asof_ts").alias("nearest_click_us"),
    )


@register(
    "join_asof_tolerance_click",
    oracle="""
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS purchase_us,
       c.click_us,
       CAST(CASE WHEN c.click_us IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS matched
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN LATERAL (
  SELECT epoch_us(c.ts) AS click_us
  FROM events c
  WHERE c.event_type = 'click' AND c.user_id = p.user_id
    AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
  ORDER BY c.ts DESC LIMIT 1
) c ON TRUE
""",
    doc=(
        "Bounded-staleness as-of join (pandas merge_asof's `tolerance` "
        "knob): each purchase takes the user's latest prior click ONLY "
        "if it is at most 1 hour old — older context is stale and the "
        "row keeps a NULL payload instead (LEFT semantics), which is "
        "how feature-store lookups enforce freshness SLAs. Same "
        "one-shuffle union+window walk as the rest of the as-of family "
        "(operators/asof.py; the tolerance is one extra predicate on "
        "the carried match, not a second join); oracle is the "
        "LEFT LATERAL limit-1 spec with the window bound inlined."
    ),
    tags=("join", "asof"),
)
def join_asof_tolerance_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = io.load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=[],
        how="left",
        tolerance=F.expr("INTERVAL 1 HOUR"),
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.unix_micros("asof_ts").alias("click_us"),
        F.when(F.col("asof_ts").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("matched"),
    )


# ---------------------------------------------------------------------------
# Jaro-Winkler candidate verification (round-11 widening)
# ---------------------------------------------------------------------------


def jaro_winkler_ppm(s1: str, s2: str) -> int:
    """Jaro-Winkler similarity in EXACT parts-per-million: every step
    is integer rational arithmetic (half-transposition counts keep t
    in half-units, the 0.1 prefix weight becomes /10, the 0.7 boost
    threshold becomes 10*num > 7*den), and the single final rounding
    is round-half-away on an exact integer quotient — so the value is
    decided by integers, never by float op order. DuckDB's builtin
    ``jaro_winkler_similarity`` (the oracle side) follows the same
    rapidfuzz convention — Winkler boost only when jaro > 0.7, prefix
    capped at 4 — verified against the textbook vectors and pinned,
    with a rounding-margin sweep, in tests/test_jaro_winkler.py."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0  # DuckDB convention: ('','') is 0, not 1
    if s1 == s2:
        return 1_000_000
    window = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    m = 0
    for i, ch in enumerate(s1):
        lo, hi = max(0, i - window), min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == ch:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0
    a = [c for i, c in enumerate(s1) if m1[i]]
    b = [c for j, c in enumerate(s2) if m2[j]]
    # transpositions = FLOORED half the mismatched-position count (the
    # C-implementation convention DuckDB follows — an odd mismatch
    # count contributes (n-1)/2, verified against the builtin over the
    # whole fixture candidate set in tests/test_jaro_winkler.py)
    t = sum(1 for x, y in zip(a, b) if x != y) // 2
    # jaro = (m/l1 + m/l2 + (m - t)/m) / 3, kept as num/den exactly
    num = m * m * l2 + m * m * l1 + (m - t) * l1 * l2
    den = 3 * l1 * l2 * m
    if 10 * num > 7 * den:  # boost iff jaro > 0.7 (exact compare)
        p = 0
        for x, y in zip(s1[:4], s2[:4]):
            if x != y:
                break
            p += 1
        num, den = 10 * num + p * (den - num), 10 * den
    return (2 * num * 1_000_000 + den) // (2 * den)  # round half away


def jaro_winkler_ppm_batch(names_a, names_b):
    """Vectorized jaro_winkler_ppm over parallel lists — identical
    integers, computed as numpy int64 column sweeps instead of a
    Python loop per pair (the row-at-a-time form cost 93 s on the
    4.5M sf0.1 candidate pairs; this is the Arrow-batch discipline
    applied INSIDE the kernel). Rows are grouped by (len_a, len_b)
    so each group shares one matching window; the greedy match and
    half-transposition count are O(L·W) boolean-mask sweeps over the
    pair axis. Equivalence to the scalar reference is pinned over
    the whole fixture candidate set AND random strings in
    tests/test_jaro_winkler.py."""
    import numpy as np

    n = len(names_a)
    out = np.zeros(n, dtype=np.int64)
    by_len: dict[tuple[int, int], list[int]] = {}
    for i, (sa, sb) in enumerate(zip(names_a, names_b)):
        by_len.setdefault((len(sa), len(sb)), []).append(i)
    for (l1, l2), idxs in by_len.items():
        idx = np.asarray(idxs)
        if l1 == 0 or l2 == 0:
            continue  # ppm 0
        if max(l1, l2) > 2048:
            # int64 overflow guard: after the boost 2*num*1e6 can reach
            # ~84e6*L^3, which exceeds int64 near L ≈ 4800 — route the
            # rare very-long strings to the arbitrary-precision scalar
            # reference (Python ints never overflow).
            for i in idxs:
                out[i] = jaro_winkler_ppm(names_a[i], names_b[i])
            continue
        # UTF-32 codepoint grids: one uint32 per Python character for ANY
        # string (ASCII or not), so non-ASCII text rides the same
        # vectorized sweeps instead of a per-row scalar fallback (the
        # r11 93-s regression risk on non-ASCII-majority data).
        A = np.frombuffer(
            "".join(names_a[i] for i in idxs).encode("utf-32-le"),
            dtype=np.uint32,
        ).reshape(len(idxs), l1)
        B = np.frombuffer(
            "".join(names_b[i] for i in idxs).encode("utf-32-le"),
            dtype=np.uint32,
        ).reshape(len(idxs), l2)
        g = len(idxs)
        w = max(l1, l2) // 2 - 1
        matchedA = np.zeros((g, l1), dtype=bool)
        matchedB = np.zeros((g, l2), dtype=bool)
        for i in range(l1):
            done = matchedA[:, i].copy()  # all False, reused as row-done
            lo, hi = max(0, i - w), min(l2, i + w + 1)
            for j in range(lo, hi):
                cand = (~done) & (~matchedB[:, j]) & (A[:, i] == B[:, j])
                matchedB[:, j] |= cand
                matchedA[:, i] |= cand
                done |= cand
        m = matchedA.sum(axis=1).astype(np.int64)
        # k-th matched char per side, scattered into (g, max_m) grids
        mm = int(m.max()) if g else 0
        t2 = np.zeros(g, dtype=np.int64)
        if mm > 0:
            ka = np.where(matchedA, np.cumsum(matchedA, axis=1) - 1, -1)
            kb = np.where(matchedB, np.cumsum(matchedB, axis=1) - 1, -1)
            seq_a = np.zeros((g, mm), dtype=np.uint32)
            seq_b = np.zeros((g, mm), dtype=np.uint32)
            rows_a, cols_a = np.nonzero(matchedA)
            seq_a[rows_a, ka[rows_a, cols_a]] = A[rows_a, cols_a]
            rows_b, cols_b = np.nonzero(matchedB)
            seq_b[rows_b, kb[rows_b, cols_b]] = B[rows_b, cols_b]
            valid = np.arange(mm)[None, :] < m[:, None]
            t2 = ((seq_a != seq_b) & valid).sum(axis=1).astype(np.int64)
        t = t2 // 2
        p = np.zeros(g, dtype=np.int64)
        run = np.ones(g, dtype=bool)
        for i in range(min(4, l1, l2)):
            run &= A[:, i] == B[:, i]
            p += run
        num = m * m * l2 + m * m * l1 + (m - t) * l1 * l2
        den = np.int64(3 * l1 * l2) * np.maximum(m, 1)
        boost = 10 * num > 7 * den
        bnum = 10 * num + p * (den - num)
        bden = 10 * den
        num = np.where(boost, bnum, num)
        den = np.where(boost, bden, den)
        ppm = (2 * num * 1_000_000 + den) // (2 * den)
        ppm = np.where(m == 0, 0, ppm)
        out[idx] = ppm
    return out


@register(
    "join_jaro_winkler_pairs",
    oracle="""
SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       CAST(ROUND(jaro_winkler_similarity(a.c_name, b.c_name) * 1000000, 0)
            AS BIGINT) AS jw_ppm
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE CAST(ROUND(jaro_winkler_similarity(a.c_name, b.c_name) * 1000000, 0)
           AS BIGINT) >= 960000
""",
    doc=(
        "Jaro-Winkler candidate verification over the nation-blocked "
        "customer pair set (VERDICT r10 #5 — completes the fuzzy-match "
        "family: Levenshtein / sorted-neighborhood / J-W, the "
        "prefix-weighted similarity every entity-resolution stack "
        "reaches for on person/org names). Spark has no J-W builtin, "
        "so the verifier is a deterministic integer-ppm mapInArrow "
        "kernel (jaro_winkler_ppm: exact rational arithmetic, one "
        "final half-away rounding on an integer quotient — no float "
        "op-order anywhere); DuckDB's builtin double rounds to the "
        "same ppm because it is ~1e-15-accurate on an exactly-known "
        "rational and the fixture margin to every 0.5-ppm boundary is "
        "property-swept in tests/test_jaro_winkler.py. The quadratic "
        "verify runs ONLY inside nation equi-join blocks (the "
        "join_fuzzy_name_match scale contract: candidate generation "
        "is a hash partition, never corpus x corpus); the >= 0.96 "
        "threshold filters on the ROUNDED ppm in both engines, so "
        "membership is decided by the same integer."
    ),
    tags=("join", "llm", "udf", "text"),
)
def join_jaro_winkler_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    def kernel(batches):
        for b in batches:
            na = b.column("name_a").to_pylist()
            nb = b.column("name_b").to_pylist()
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("key_a"),
                    b.column("key_b"),
                    pa.array(jaro_winkler_ppm_batch(na, nb), pa.int64()),
                ],
                ["key_a", "key_b", "jw_ppm"],
            )

    cust = io.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    # Round-robin the PROBE side before pair enumeration: a single-file
    # dimension otherwise leaves the broadcast join (and therefore the
    # Arrow kernel) on ONE partition — the verify work is O(pairs) and
    # must spread across cores. 15k left rows shuffle, never the ~n²/50
    # candidate pairs (measured: 93 s scalar/1-task → ~1 s vectorized/
    # 64-task at sf0.1).
    a = cust.repartition(64).alias("a")
    b = cust.alias("b")
    cand = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.col("a.c_custkey").alias("key_a"),
        F.col("b.c_custkey").alias("key_b"),
        F.col("a.c_name").alias("name_a"),
        F.col("b.c_name").alias("name_b"),
    )
    return cand.mapInArrow(
        kernel, "key_a long, key_b long, jw_ppm long"
    ).filter(F.col("jw_ppm") >= 960000)
