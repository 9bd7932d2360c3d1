"""Association-mining operators (SURVEY.md §2C, round-6 widening):
collocation strength over adjacent token pairs and market-basket
co-occurrence pairs.

Both are corpus-statistics stages a training-data pipeline runs after
cleaning: collocations surface boilerplate phrases and multi-word
expressions worth treating as single tokens (the PMI step of phrase
mining); co-occurrence pairs are the level-2 frequent-itemset pass
(apriori / market-basket) reused here for brand-affinity analysis over
the TPC-H-ish order data.

Exactness discipline (see queries/statml.py): every cross-row
reduction is an integer count; floating point enters only in a final,
identically-shaped multiply/divide expression both engines evaluate
over exactly-representable integers — no transcendentals (a log-based
PMI would hit the libm-divergence documented on scalar_math_libm;
ranking by LIFT is ranking by PMI because log is monotone, so we keep
the rational form and stay bit-exact).

Scale posture: collocation does two corpus aggregations (unigram,
bigram) each a single partial+final count shuffle; the two grand
totals are 1-row broadcasts; the bigram→unigram probe joins run on the
support-filtered bigram table (tiny after `cnt >= 5`), never the raw
token stream. Co-purchase builds per-order brand sets with ONE
collect_set aggregation (bounded: TPC-H has 25 brands, so a set is
<= 25 elements) and generates pairs row-locally from the sorted array
— never the quadratic self-join of exploded rows that would fan out
hot orders at 100 TB; the only other shuffle is the final count on the
pair key.

Tokenization reuses the reference wc.go letter-run semantics
(``mrapps/wc.go:21-24``) via ``tokens_nonempty`` so the DuckDB oracle
replays the identical token stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import io
from tda596_lab02mapreduce_spark.functions.text import ngram_shingles, tokens_nonempty
from tda596_lab02mapreduce_spark.operators.rounds import fixed_rounds
from tda596_lab02mapreduce_spark.registry import register

_MIN_SUPPORT = 5


@register(
    "collocation_lift_bigrams",
    oracle=rf"""
WITH tok AS (
  SELECT list_filter(string_split_regex(text, '[^\p{{L}}]+'), t -> t <> '') AS tk
  FROM documents
),
uni AS (
  SELECT t AS w, CAST(count(*) AS HUGEINT) AS c
  FROM (SELECT unnest(tk) AS t FROM tok)
  GROUP BY t
),
tot AS (SELECT CAST(SUM(c) AS HUGEINT) AS n FROM uni),
big AS (
  SELECT bigram, CAST(count(*) AS HUGEINT) AS c12
  FROM (
    SELECT unnest(list_transform(range(1, len(tk)),
                                 i -> tk[i] || ' ' || tk[i + 1])) AS bigram
    FROM tok
  )
  GROUP BY bigram
),
btot AS (SELECT CAST(SUM(c12) AS HUGEINT) AS m FROM big),
sup AS (
  SELECT split_part(bigram, ' ', 1) AS w1,
         split_part(bigram, ' ', 2) AS w2,
         c12
  FROM big WHERE c12 >= {_MIN_SUPPORT}
)
SELECT s.w1, s.w2, CAST(s.c12 AS BIGINT) AS cnt,
       ((CAST(s.c12 AS DOUBLE) * CAST(t.n AS DOUBLE)) * CAST(t.n AS DOUBLE))
         / ((CAST(bt.m AS DOUBLE) * CAST(u1.c AS DOUBLE)) * CAST(u2.c AS DOUBLE))
         AS lift
FROM sup s
JOIN uni u1 ON s.w1 = u1.w
JOIN uni u2 ON s.w2 = u2.w
CROSS JOIN tot t CROSS JOIN btot bt
""",
    doc=(
        "Collocation strength (association lift, the rational form of "
        "PMI) of adjacent token bigrams with support >= 5: "
        "lift = P(w1 w2) / (P(w1) P(w2)) with bigram probability over "
        "the bigram total M and unigram probabilities over the token "
        "total N, i.e. (c12 * N^2) / (M * c1 * c2). All counts are "
        "exact integers; the lift is one identically-parenthesized "
        "double expression, so the value hash matches bitwise (log-free "
        "by design — ranking by lift IS ranking by PMI). Plan: two "
        "corpus count shuffles (unigram, bigram), 1-row total "
        "broadcasts, and unigram probes joined against the tiny "
        "support-filtered bigram table."
    ),
    tags=("text", "llm", "agg", "join"),
)
def collocation_lift_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    toks = docs.select(tokens_nonempty("text").alias("tk"))
    uni = (
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("decimal(20,0)").alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("decimal(38,0)").alias("n"))
    big = (
        toks.filter(F.size("tk") >= 2)
        .select(F.explode(ngram_shingles(F.col("tk"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("decimal(20,0)").alias("c12"))
    )
    btot = big.agg(F.sum("c12").cast("decimal(38,0)").alias("m"))
    sup = big.filter(F.col("c12") >= _MIN_SUPPORT).select(
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("w2"),
        "c12",
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    joined = (
        sup.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
    )
    num = (F.col("c12").cast("double") * F.col("n").cast("double")) * F.col(
        "n"
    ).cast("double")
    den = (F.col("m").cast("double") * F.col("c1").cast("double")) * F.col(
        "c2"
    ).cast("double")
    return joined.select(
        "w1",
        "w2",
        F.col("c12").cast("long").alias("cnt"),
        (num / den).alias("lift"),
    )


@register(
    "copurchase_brand_pairs",
    oracle="""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT a.brand AS brand_a, b.brand AS brand_b,
       CAST(count(*) AS BIGINT) AS n_orders
FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
GROUP BY a.brand, b.brand
""",
    doc=(
        "Market-basket level-2 frequent itemsets: unordered brand pairs "
        "co-occurring in the same order, with order counts (the apriori "
        "candidate-pair pass / brand-affinity matrix). The oracle uses "
        "the textbook self-join; the Spark plan instead aggregates each "
        "order's distinct brands into ONE sorted array (collect_set is "
        "bounded by the 25-brand dimension, so per-group state is O(1)) "
        "and emits the i<j pairs row-locally — a hot order with k lines "
        "costs k set-inserts and <=C(25,2) emitted pairs instead of a "
        "k^2 join fan-out. Shuffles: the part-key probe join, one "
        "collect_set on orderkey, one count on the pair key."
    ),
    tags=("join", "agg", "analytics"),
)
def copurchase_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = io.load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_orderkey", F.col("p_brand").alias("brand")
    )
    per_order = ob.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("brand")).alias("brands")
    )
    pairs = per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(brands, (x, i) -> "
                "transform(slice(brands, i + 2, size(brands)), "
                "y -> struct(x AS brand_a, y AS brand_b))))"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.brand_a", "p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "rfm_customer_segments",
    oracle="""
WITH base AS (
  SELECT c.c_custkey AS custkey, c.c_nationkey AS nationkey,
         CAST(floor(epoch(CAST(max(o.o_orderdate) AS TIMESTAMP))) AS BIGINT)
           AS last_order_s,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS HUGEINT)) AS BIGINT)
           AS total_cents
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey, c.c_nationkey
)
SELECT custkey,
       CAST(ntile(4) OVER (PARTITION BY nationkey
                           ORDER BY last_order_s DESC, custkey) AS INTEGER) AS r_score,
       CAST(ntile(4) OVER (PARTITION BY nationkey
                           ORDER BY n_orders DESC, custkey) AS INTEGER) AS f_score,
       CAST(ntile(4) OVER (PARTITION BY nationkey
                           ORDER BY total_cents DESC, custkey) AS INTEGER) AS m_score
FROM base
""",
    doc=(
        "RFM customer segmentation (recency / frequency / monetary "
        "quartile scores, 1 = best), the classic marketing-analytics "
        "cohort labeler. Quartiles are WITHIN nation — cohort-relative "
        "scoring, and the scale-correct choice: a global ntile needs a "
        "single ordered partition (one task at 100 TB), a keyed ntile "
        "rides the nation partitioning like any other window. "
        "Monetary is exact integer cents; recency is epoch seconds of "
        "the last order; every ntile ordering carries a custkey "
        "tiebreak so tied metrics can't make the quartile assignment "
        "run-dependent. One orders shuffle (custkey rollup) + one "
        "nation-keyed window pass."
    ),
    tags=("window", "agg", "analytics"),
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cust = io.load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = io.load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    base = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy(F.col("c_custkey").alias("custkey"), F.col("c_nationkey").alias("nationkey"))
        .agg(
            # o_orderdate arrives TIMESTAMP_NTZ from the fixture parquet;
            # pin naive wall time == UTC (io.py's events convention) so
            # epoch seconds match DuckDB's epoch(CAST(.. AS TIMESTAMP)).
            F.max(F.to_utc_timestamp(F.col("o_orderdate"), "UTC").cast("long")).alias(
                "last_order_s"
            ),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("decimal(20,0)"))
            .cast("bigint")
            .alias("total_cents"),
        )
    )

    def quartile(metric: str) -> F.Column:
        return F.ntile(4).over(
            Window.partitionBy("nationkey").orderBy(
                F.col(metric).desc(), F.col("custkey")
            )
        )

    return base.select(
        "custkey",
        quartile("last_order_s").alias("r_score"),
        quartile("n_orders").alias("f_score"),
        quartile("total_cents").alias("m_score"),
    )


@register(
    "assoc_rules_confidence",
    oracle="""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
bc AS (SELECT brand, CAST(count(*) AS HUGEINT) AS c FROM ob GROUP BY brand),
tot AS (SELECT CAST(count(DISTINCT okey) AS HUGEINT) AS n FROM ob),
pc AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b,
         CAST(count(*) AS HUGEINT) AS c_ab
  FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY a.brand, b.brand
  HAVING count(*) >= 20
),
rules AS (
  SELECT brand_a AS antecedent, brand_b AS consequent, c_ab FROM pc
  UNION ALL
  SELECT brand_b, brand_a, c_ab FROM pc
)
SELECT r.antecedent, r.consequent,
       CAST(r.c_ab AS BIGINT) AS support_n,
       CAST(1000000 * r.c_ab // ca.c AS BIGINT) AS confidence_ppm,
       CAST(1000000 * r.c_ab * t.n // (ca.c * cb.c) AS BIGINT) AS lift_ppm
FROM rules r
JOIN bc ca ON r.antecedent = ca.brand
JOIN bc cb ON r.consequent = cb.brand
CROSS JOIN tot t
""",
    doc=(
        "Directional association rules A=>B over per-order brand "
        "baskets (the confidence/lift step apriori runs after "
        "copurchase_brand_pairs' candidate counts): "
        "confidence = P(B|A) = c_ab/c_a and lift = c_ab*N/(c_a*c_b), "
        "both emitted as exact integer parts-per-million via integer "
        "division, so the whole rule table is bit-exact with zero "
        "float ordering risk. Plan: the same bounded collect_set "
        "basket pass as copurchase_brand_pairs (pairs emitted "
        "row-locally, never an exploded self-join), one count shuffle "
        "on the pair key, then broadcast probes into the 25-row brand "
        "count table and the 1-row basket total — at 100 TB the only "
        "large shuffles are the basket rollup and the pair count."
    ),
    tags=("agg", "analytics", "llm"),
)
def assoc_rules_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = io.load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_orderkey", F.col("p_brand").alias("brand")
    )
    bc = ob.distinct().groupBy("brand").agg(
        F.count(F.lit(1)).cast("decimal(20,0)").alias("c")
    )
    tot = ob.agg(
        F.count_distinct("l_orderkey").cast("decimal(20,0)").alias("n")
    )
    per_order = ob.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("brand")).alias("brands")
    )
    pc = (
        per_order.select(
            F.explode(
                F.expr(
                    "flatten(transform(brands, (x, i) -> "
                    "transform(slice(brands, i + 2, size(brands)), "
                    "y -> struct(x AS brand_a, y AS brand_b))))"
                )
            ).alias("p")
        )
        .select("p.brand_a", "p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("decimal(20,0)").alias("c_ab"))
        .filter(F.col("c_ab") >= 20)
    )
    rules = pc.selectExpr(
        "brand_a AS antecedent", "brand_b AS consequent", "c_ab"
    ).unionAll(
        pc.selectExpr("brand_b AS antecedent", "brand_a AS consequent", "c_ab")
    )
    ca = bc.selectExpr("brand AS antecedent", "c AS c_a")
    cb = bc.selectExpr("brand AS consequent", "c AS c_b")
    return (
        rules.join(F.broadcast(ca), "antecedent")
        .join(F.broadcast(cb), "consequent")
        .crossJoin(F.broadcast(tot))
        .select(
            "antecedent",
            "consequent",
            F.col("c_ab").cast("bigint").alias("support_n"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * c_ab) div c_a"
                " AS BIGINT)"
            ).alias("confidence_ppm"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * c_ab * n)"
                " div (c_a * c_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


@register(
    "recsys_item_cosine_topk",
    oracle="""
WITH cb0 AS (
  SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
cb AS (
  SELECT ck, unnest(list_sort(list(pk))[1:128]) AS pk
  FROM cb0 GROUP BY ck
),
ic AS (SELECT pk, CAST(count(*) AS HUGEINT) AS c FROM cb GROUP BY pk),
pc AS (
  SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS HUGEINT) AS c_ab
  FROM cb a JOIN cb b ON a.ck = b.ck AND a.pk < b.pk
  GROUP BY a.pk, b.pk
  HAVING count(*) >= 3
),
sym AS (
  SELECT pa AS item, pb AS neighbor, c_ab FROM pc
  UNION ALL
  SELECT pb, pa, c_ab FROM pc
),
scored AS (
  SELECT s.item, s.neighbor,
         CAST(s.c_ab AS BIGINT) AS n_common,
         CAST(1000000000000 * s.c_ab * s.c_ab // (ci.c * cn.c) AS BIGINT)
           AS cos2_ppt
  FROM sym s
  JOIN ic ci ON s.item = ci.pk
  JOIN ic cn ON s.neighbor = cn.pk
)
SELECT item, neighbor, n_common, cos2_ppt, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY item ORDER BY cos2_ppt DESC, neighbor) AS rnk
  FROM scored
)
WHERE rnk <= 5
""",
    doc=(
        "Item-item collaborative filtering: for every part, the top-5 "
        "most-similar parts by cosine similarity over customer "
        "co-purchase vectors (binary basket model: cos(i,j) = "
        "c_ij/sqrt(c_i*c_j)). Ranking uses cos^2 scaled to exact "
        "integer parts-per-trillion — monotone in cosine since all "
        "values are positive — so the top-k cut is bit-deterministic "
        "with a neighbor-id tiebreak and no cross-engine float "
        "ordering risk (the lesson similarity_topk_gemm's rounded-rank "
        "fix taught). Baskets are CAPPED at 128 parts per customer "
        "(deterministic lowest-id slice — real co-occurrence pipelines "
        "cap user history for exactly this reason): pair emission is "
        "O(b^2), and on densified fact growth an uncapped basket "
        "degenerates to C(catalog,2) per customer; the cap is "
        "inactive at fixture scale (max basket 90) so the oracle "
        "result is unchanged, and it bounds the blowup at any scale. "
        "Plan: capped baskets -> customer-keyed equi-self-join pair "
        "enumeration (the cap bounds the quadratic fan-out; the JVM "
        "hash join measured 2.6x faster than row-local array-of-"
        "struct emission at this fan-out), one pair-count shuffle, "
        "broadcast item counts, then a part-keyed "
        "WindowGroupLimit top-5 — the window partitions on the "
        "2000-key item grain, so parallelism grows with the catalog, "
        "not the corpus."
    ),
    tags=("analytics", "llm", "window", "join"),
)
def recsys_item_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = io.load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = io.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cb = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk")
    )
    # collect_set dedups — the old explicit .distinct() was a second
    # full (ck, pk) exchange ahead of the ck exchange (optimization
    # r16, guide §2.4; the frequent_triples_brand precedent)
    per_cust = cb.groupBy("ck").agg(
        F.slice(F.array_sort(F.collect_set("pk")), 1, 128).alias("pks")
    )
    # capped basket back to row grain once; pairs come from an equi-
    # SELF-JOIN on the customer key, not a higher-order-function
    # explode: both enumerate the same O(b^2-capped) pair multiset,
    # but the JVM hash join runs it 2.6x faster than per-customer
    # array-of-struct allocation in the expression evaluator
    # (measured at sf0.1: 16.5 s -> 6.3 s for the pair stage).
    capped = per_cust.select("ck", F.explode("pks").alias("pk"))
    # referenced 3x (item counts + both self-join sides): checkpoint
    # once, pre-partitioned on the join key (the triangle_count
    # candidate-once/graph-passes-many shape)
    capped = capped.repartition("ck").localCheckpoint(eager=False)
    ic = capped.groupBy("pk").agg(
        F.count(F.lit(1)).cast("decimal(20,0)").alias("c")
    )
    pc = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.ck") == F.col("b.ck")) & (F.col("a.pk") < F.col("b.pk")),
        )
        .groupBy(F.col("a.pk").alias("pa"), F.col("b.pk").alias("pb"))
        .agg(F.count(F.lit(1)).cast("decimal(20,0)").alias("c_ab"))
        .filter(F.col("c_ab") >= 3)
    )
    sym = pc.selectExpr("pa AS item", "pb AS neighbor", "c_ab").unionAll(
        pc.selectExpr("pb AS item", "pa AS neighbor", "c_ab")
    )
    ci = ic.selectExpr("pk AS item", "c AS c_i")
    cn = ic.selectExpr("pk AS neighbor", "c AS c_n")
    scored = (
        # item counts are CATALOG-proportional (part is 200k x SF): no
        # broadcast hint — stats/AQE broadcast them below threshold at
        # fixture scale and shuffle-join past it (VERDICT r9 #1)
        sym.join(ci, "item")
        .join(cn, "neighbor")
        .select(
            "item",
            "neighbor",
            F.col("c_ab").cast("bigint").alias("n_common"),
            F.expr(
                "CAST((CAST(1000000000000 AS DECIMAL(38,0)) * c_ab * c_ab)"
                " div (c_i * c_n) AS BIGINT)"
            ).alias("cos2_ppt"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cos2_ppt").desc(), F.col("neighbor")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("item", "neighbor", "n_common", "cos2_ppt", "rnk")
    )


def _hits_oracle() -> str:
    from tda596_lab02mapreduce_spark.operators.hits import hits_oracle_sql

    return hits_oracle_sql(
        "e AS (SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst\n"
        "      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)"
    )


@register(
    "hits_copurchase_bipartite",
    oracle=_hits_oracle(),
    doc=(
        "Kleinberg HITS over the bipartite customer->part purchase "
        "graph (co-HITS, the classic graph-recommendation primitive): "
        "authority = parts endorsed by broad customers, hub = "
        "customers concentrated on endorsed parts; 5 fixed power-"
        "iteration rounds, every score an exact integer micro-unit "
        "with max-normalization via integer division, so the whole "
        "iteration is bit-identical in both engines and the oracle is "
        "the full unrolled-CTE replay (the pagerank_neardup_hubs "
        "discipline, operators/hits.py). Plan per round: two keyed "
        "join+agg shuffles on checkpointed edges plus "
        "1-row max broadcasts that stay inside the plan; fixed rounds, "
        "localCheckpoint per half-round, zero driver actions in the "
        "loop."
    ),
    tags=("graph", "analytics", "join", "agg"),
)
def hits_copurchase_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.operators.hits import hits

    orders = io.load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = io.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    return hits(edges)


def _kcore_oracle(k: int, rounds: int) -> str:
    # each e{i} is referenced 3x by round i+1 (edge source + two degree
    # rollups); MATERIALIZED stops DuckDB's CTE inlining from
    # compounding that fan-out 3^rounds (see hits_oracle_sql).
    parts = [
        "e0 AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS src,"
        " l.l_partkey AS dst\n"
        "       FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)"
    ]
    for i in range(1, rounds + 1):
        p = f"e{i - 1}"
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT {p}.src, {p}.dst FROM {p}\n"
            f"  JOIN (SELECT src, count(*) AS c FROM {p} GROUP BY src) ds\n"
            f"    ON ds.src = {p}.src\n"
            f"  JOIN (SELECT dst, count(*) AS c FROM {p} GROUP BY dst) dd\n"
            f"    ON dd.dst = {p}.dst\n"
            f"  WHERE ds.c >= {k} AND dd.c >= {k})"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT 'cust' AS node_type, src AS node_id, CAST(count(*) AS BIGINT) AS deg
FROM e{rounds} GROUP BY src
UNION ALL
SELECT 'part', dst, CAST(count(*) AS BIGINT) FROM e{rounds} GROUP BY dst
"""
    )


@register(
    "kcore_peel_bipartite",
    oracle=_kcore_oracle(25, 5),
    doc=(
        "Bounded k-core peeling (k=25, 5 fixed rounds) of the "
        "bipartite customer->part purchase graph — the dense-core "
        "extractor community-detection and fraud pipelines run before "
        "expensive per-subgraph analysis (Matula/Beck peeling, made "
        "deterministic by a FIXED round count instead of a "
        "data-dependent fixpoint test, the pagerank fixed-iteration "
        "contract). Each round drops every node with degree < k on "
        "its own side and every edge touching one; the fixture "
        "cascade is non-degenerate (48k -> 11k edges over the 5 "
        "rounds). Output: surviving nodes with their round-5 degrees, "
        "all exact integers, full unrolled-CTE hash oracle. Plan per "
        "round: two count aggregates + two semi-join-shaped filters, "
        "all keyed shuffles on the edge endpoints; edges "
        "localCheckpoint per round — no lineage stacking, no driver "
        "decisions in the loop."
    ),
    tags=("graph", "analytics", "agg", "join"),
)
def kcore_peel_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    k, rounds = 25, 5
    orders = io.load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = io.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst"))
        .distinct()
        .localCheckpoint()
    )

    def peel(e: DataFrame) -> DataFrame:
        ds = e.groupBy("src").agg(F.count(F.lit(1)).alias("c_s")).filter(
            F.col("c_s") >= k
        )
        dd = e.groupBy("dst").agg(F.count(F.lit(1)).alias("c_d")).filter(
            F.col("c_d") >= k
        )
        return (
            e.join(ds.select("src"), "src")
            .join(dd.select("dst"), "dst")
            .select("src", "dst")
        )

    # lazy per-round cuts (optimization r17): fresh-JVM A/B at sf0.1,
    # eager 3.89/3.48/3.50 s vs lazy 3.42/3.09/3.40 s
    e = fixed_rounds(e, peel, rounds)
    return (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(
            F.lit("cust").alias("node_type"),
            F.col("src").alias("node_id"),
            F.col("deg").cast("bigint").alias("deg"),
        )
        .unionByName(
            e.groupBy("dst")
            .agg(F.count(F.lit(1)).alias("deg"))
            .select(
                F.lit("part").alias("node_type"),
                F.col("dst").alias("node_id"),
                F.col("deg").cast("bigint").alias("deg"),
            )
        )
    )


def _lpa_oracle(rounds: int) -> str:
    # e is referenced twice per round and every l{i} feeds l{i+1}:
    # MATERIALIZED stops DuckDB's CTE inlining from re-deriving the
    # pair graph exponentially (the hits_oracle_sql lesson).
    parts = [
        """cb0 AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
cb AS MATERIALIZED (
  SELECT ck, unnest(list_sort(list(pk))[1:128]) AS pk FROM cb0 GROUP BY ck
),
pc AS MATERIALIZED (
  SELECT a.pk AS pa, b.pk AS pb
  FROM cb a JOIN cb b ON a.ck = b.ck AND a.pk < b.pk
  GROUP BY a.pk, b.pk
  HAVING count(*) >= 5
),
e AS MATERIALIZED (
  SELECT pa AS src, pb AS dst FROM pc UNION ALL SELECT pb, pa FROM pc
),
l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM e)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""l{i} AS MATERIALIZED (
  SELECT dst AS id, lbl FROM (
    SELECT dst, lbl,
           row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, lbl) AS rn
    FROM (SELECT e.dst, l.lbl, count(*) AS cnt
          FROM e JOIN l{i - 1} l ON e.src = l.id GROUP BY e.dst, l.lbl)
  ) WHERE rn = 1
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT l.id AS part_id, l.lbl AS community,
       s.community_size
FROM l{rounds} l
JOIN (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
      FROM l{rounds} GROUP BY lbl) s USING (lbl)
"""
    )


@register(
    "community_label_propagation",
    oracle=_lpa_oracle(4),
    doc=(
        "Label-propagation community detection (Raghavan et al. 2007, "
        "made deterministic: synchronous updates, 4 FIXED rounds, "
        "argmax neighbor label with count-then-min-label total-order "
        "tiebreak) over the part co-purchase graph at support >= 5 — "
        "the graph-clustering step catalog/merchandising pipelines "
        "run on co-occurrence graphs. Support 5 is load-bearing: at "
        "support 3 the graph is dense enough that LPA collapses to "
        "one giant community by round 4 (probed — 1997/2000 nodes; "
        "the vacuous-oracle lesson), at 5 the fixture yields 466 "
        "communities over 1101 nodes, top size 14. Every update is "
        "an integer count argmax, so the full iteration replays "
        "bit-exactly in the unrolled MATERIALIZED-CTE oracle. Plan "
        "per round: one edge-label join + one (dst, lbl) count + one "
        "dst-keyed argmax aggregate (max_by on a (cnt, -lbl) struct — "
        "total order, no window); edges cached pre-partitioned, "
        "labels localCheckpoint per round."
    ),
    tags=("graph", "analytics", "agg", "join"),
)
def community_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    rounds = 4
    # The edge source IS _copurchase_edges (same capped baskets, same
    # pair count, same support >= 5 — ppr's docstring has called it
    # "the LPA edge source" since r11); LPA built its own equi-self-
    # join copy of it until r17. Sharing the operator inherits the
    # packed-pair-key count (guide §2.3, measured on the shared
    # source: 3.16→2.96 / 3.06→2.54 s) and leaves ONE implementation
    # of the pair algebra. Fresh-JVM A/B of the full query (bench's
    # isolated protocol, 3 cold runs each): self-join source
    # 7.69/5.39/4.21 s vs shared source 3.96/4.05/4.41 s — shared
    # wins 3/3; identical results, hash-green side-by-side. (The SAME
    # swap measured ~25% SLOWER on recsys_item_cosine_topk, whose
    # c>=3 graph feeds a heavy scoring tail — its self-join shape is
    # kept; plans/r17/ab/ab_cosine_results.txt.)
    e = _copurchase_edges(spark, sf_dir)
    lab = e.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("lbl")
    ).localCheckpoint()
    for _ in range(rounds):
        lab = (
            e.join(lab.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst"), F.col("lbl"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.expr("max_by(lbl, struct(cnt, -lbl))").alias("lbl")
            )
            .localCheckpoint()
        )
    e.unpersist()
    sizes = lab.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("community_size")
    )
    return lab.join(sizes, "lbl").select(
        F.col("id").alias("part_id"),
        F.col("lbl").alias("community"),
        "community_size",
    )


# ---------------------------------------------------------------------------
# Frequent triples — apriori level 3 (round-10 widening)
# ---------------------------------------------------------------------------


@register(
    "frequent_triples_brand",
    oracle="""
WITH items AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT GREATEST(3, count(DISTINCT ok) // 200) AS minsup FROM items)
SELECT i1.b AS brand_a, i2.b AS brand_b, i3.b AS brand_c,
       CAST(count(*) AS BIGINT) AS support
FROM items i1
JOIN items i2 ON i1.ok = i2.ok AND i1.b < i2.b
JOIN items i3 ON i2.ok = i3.ok AND i2.b < i3.b
GROUP BY 1, 2, 3
HAVING count(*) >= (SELECT minsup FROM n)
""",
    doc=(
        "Frequent brand TRIPLES over order baskets at relative "
        "support >= 0.5% of orders (floor 3) — the level-3 apriori "
        "step beyond copurchase_brand_pairs. The ORACLE is the direct "
        "spec (triple self-join + HAVING); the Spark plan is the "
        "apriori-pruned form that survives scale: pair supports are "
        "counted first, the frequent-pair set (bounded by the brand "
        "alphabet squared, ~300 rows) is BROADCAST, and candidate "
        "triple occurrences are pruned by all three pair subsets "
        "(a,b),(b,c),(a,c) BEFORE the triple count — identical result "
        "by the apriori property (every subset of a frequent itemset "
        "is frequent), but the shuffled triple-candidate volume drops "
        "by the infrequent-pair mass. Baskets are distinct (order, "
        "brand) pairs, so the self-join fan-out is bounded by the "
        "25-brand alphabet per order, not by line count."
    ),
    tags=("association", "agg", "join"),
)
def frequent_triples_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = io.load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # items feeds FIVE consumers (minsup, the pair count, p12's two
    # sides, the triple extension): localCheckpoint pins one
    # materialization — without it Catalyst re-derives the
    # lineitem⋈part join per reference (measured: 50 exchanges → 13).
    # BASKET CAP (VERDICT r10 #4): the two self-joins on ok are O(K²)
    # / O(K³) in the per-order distinct-brand count K — bounded by the
    # 25-brand alphabet on THIS catalog, but a 100 TB catalog with a
    # richer alphabet must not let one pathological hot order amplify
    # quadratically (the recsys slice(...,128) discipline). Cap at the
    # first 64 sorted brands per order: never binding at fixture scale
    # (alphabet 25 < 64 ⇒ the unpruned-spec oracle is exact); beyond
    # the cap, support counts become conservative UNDERCOUNTS for
    # brands sorting past position 64 in an over-cap basket — the
    # apriori-safe direction (a capped run can only MISS itemsets,
    # never invent them).
    items = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .groupBy("ok")  # collect_set dedups — no separate distinct pass
        .agg(F.slice(F.array_sort(F.collect_set("b")), 1, 64).alias("bs"))
        .select("ok", F.explode("bs").alias("b"))
        .localCheckpoint(eager=False)
    )
    minsup = items.agg(
        F.greatest(
            F.lit(3).cast("bigint"),
            F.expr("CAST(count(DISTINCT ok) DIV 200 AS BIGINT)"),
        ).alias("minsup")
    )
    pairs = (
        items.alias("a")
        .join(
            items.alias("b"),
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.b") < F.col("b.b")),
        )
        .groupBy(F.col("a.b").alias("pa"), F.col("b.b").alias("pb"))
        .agg(F.count(F.lit(1)).alias("ps"))
        .crossJoin(F.broadcast(minsup))
        .filter(F.col("ps") >= F.col("minsup"))
        .select("pa", "pb")
    )
    fp = F.broadcast(pairs)
    p12 = (
        items.alias("a")
        .join(
            items.alias("b"),
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.b") < F.col("b.b")),
        )
        .select(F.col("a.ok").alias("ok"), F.col("a.b").alias("b1"), F.col("b.b").alias("b2"))
        .join(fp, (F.col("b1") == fp.pa) & (F.col("b2") == fp.pb), "left_semi")
    )
    tri = (
        p12.join(
            items.alias("c"),
            (p12.ok == F.col("c.ok")) & (p12.b2 < F.col("c.b")),
        )
        .select("b1", "b2", F.col("c.b").alias("b3"))
        .join(fp, (F.col("b2") == fp.pa) & (F.col("b3") == fp.pb), "left_semi")
        .join(fp, (F.col("b1") == fp.pa) & (F.col("b3") == fp.pb), "left_semi")
        .groupBy("b1", "b2", "b3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .crossJoin(F.broadcast(minsup))
        .filter(F.col("support") >= F.col("minsup"))
    )
    return tri.select(
        F.col("b1").alias("brand_a"),
        F.col("b2").alias("brand_b"),
        F.col("b3").alias("brand_c"),
        "support",
    )


# ---------------------------------------------------------------------------
# Personalized PageRank (round-10 widening)
# ---------------------------------------------------------------------------


def _ppr_oracle(rounds: int) -> str:
    # same MATERIALIZED discipline as _lpa_oracle / hits_oracle_sql:
    # e and n0 are referenced every round — without MATERIALIZED,
    # DuckDB's CTE inlining re-derives the pair graph exponentially
    parts = [
        """cb0 AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
cb AS MATERIALIZED (
  SELECT ck, unnest(list_sort(list(pk))[1:128]) AS pk FROM cb0 GROUP BY ck
),
pc AS MATERIALIZED (
  SELECT a.pk AS pa, b.pk AS pb
  FROM cb a JOIN cb b ON a.ck = b.ck AND a.pk < b.pk
  GROUP BY a.pk, b.pk
  HAVING count(*) >= 5
),
e AS MATERIALIZED (
  SELECT pa AS src, pb AS dst FROM pc UNION ALL SELECT pb, pa FROM pc
),
deg AS MATERIALIZED (
  SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
),
nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
seeds AS (SELECT id FROM deg ORDER BY deg DESC, id LIMIT 5),
n0 AS MATERIALIZED (
  SELECT d.id, d.deg,
         CAST(CASE WHEN s.id IS NOT NULL
              THEN 30000 * (SELECT n FROM nv) ELSE 0 END AS BIGINT) AS base_u
  FROM deg d LEFT JOIN seeds s USING (id)
),
p0 AS MATERIALIZED (
  SELECT id, deg, base_u, CAST(1000000 AS BIGINT) AS rank_u FROM n0
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""p{i} AS MATERIALIZED (
  SELECT d.id, d.deg, d.base_u,
         CAST(d.base_u + (170 * m.in_mass_e8 + 10000) // 20000 AS BIGINT)
           AS rank_u
  FROM (SELECT e.dst AS id,
               SUM((200 * p.rank_u + p.deg) // (2 * p.deg)) AS in_mass_e8
        FROM p{i - 1} p JOIN e ON e.src = p.id GROUP BY e.dst) m
  JOIN n0 d ON d.id = m.id
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT id AS part_id,
       CAST(rank_u AS DOUBLE) / 1000000.0 AS ppr,
       CAST(CASE WHEN base_u > 0 THEN 1 ELSE 0 END AS BIGINT) AS is_seed
FROM p{rounds}
"""
    )


def _copurchase_edges(
    spark: SparkSession, sf_dir: str, *, with_weight: bool = False
) -> DataFrame:
    """Symmetric co-purchase part-pair edges (count >= 5 customers),
    shared by PPR, BFS, and weighted SSSP. With ``with_weight`` the
    edges carry ``w = (1000000 + c - 1) div c`` (integer ceil of
    1e6/count — stronger ties are cheaper; exact BIGINT division, both
    engines truncate positives identically).
    Pairs are emitted ROW-LOCALLY from each
    customer's sorted capped part array (the copurchase_brand_pairs
    shape) instead of a capped⋈capped self-join: the join built
    per-task hash maps over the full pair fan-out and OOM'd a bare 1g
    session at sf0.1 (r11 verdict #3); the nested-transform explode
    streams pairs out of each row with O(cap²) per-row work.

    Memory contract (the bare-1g fix, measured): the pair stream is
    ~n_customers × C(cap,2) rows (13.1M at sf0.1), and on a 1 GB G1
    heap the killers are HUMONGOUS allocations — ≥512 KB buffers on
    1 MB G1 regions (32 concurrent shuffle-sorter pages on the write
    side, 32 growing aggregate maps on the reduce side) thrash the
    GCLocker until the JVM throws spurious OOM. So (a) the
    pair-EMISSION stage is bounded to defaultParallelism/4 concurrent
    writers, and (b) the pair COUNT aggregates after an explicit wide
    hash repartition (8×parallelism partitions — AQE never coalesces
    an explicit count) so each reduce task's map holds a bounded
    slice. Width re-tuned in the r16 optimization round: the original
    64×parallelism (2048 tasks on local[32]) spent more in task
    scheduling than the finer maps saved — measured at sf0.1 the pair
    count read 3.6–5.8 s at 64×, 2.8–3.4 s at 8×, 3.4–3.9 s with no
    explicit repartition (AQE default); 8× keeps the explicit-width
    memory contract AND the win, and the bare-1g local[32] end-to-end
    run was RE-VERIFIED at 8× this round (pair count + weighted edge
    staging complete, no OOM). Returned edges are repartition(src)-ed
    and persist()-ed — callers unpersist() once their rounds are built:
    checkpointing a round (lazily too, under AQE) runs every stage that
    reads the edges, and only the round's final stage is deferred. They
    stay persisted, not checkpointed: under AQE a checkpointed frame's
    scan keeps neither the hash partitioning nor the materialized size,
    so a round joining it is planned sort-merge and both sides shuffle
    before AQE switches to a broadcast, where the persisted layout is
    broadcast up front (one BFS round and its collect at sf0.1: 8 jobs
    persisted, 14 checkpointed; the fresh-JVM A/B lost for LPA, BFS,
    SSSP and ppr with checkpointed edges)."""
    orders = io.load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = io.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cb = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk")
    )
    # collect_set dedups — the old explicit .distinct() was a second
    # full (ck, pk) exchange ahead of the ck exchange (optimization
    # r16, guide §2.4; the frequent_triples_brand precedent)
    per_cust = cb.groupBy("ck").agg(
        F.slice(F.array_sort(F.collect_set("pk")), 1, 128).alias("pks")
    )
    par = spark.sparkContext.defaultParallelism
    # Pairs are emitted PACKED into one bigint (pa<<32 | pb) instead of
    # a (pa, pb) struct (optimization r17, guide §2.3 narrower types /
    # shuffle fewer bytes): the count exchange carries one long column
    # instead of two, and the per-pair struct allocation disappears
    # from the emission loop. Measured at sf0.1 (warmed in-session A/B,
    # 2 rounds): pair count 3.16→2.96 s and 3.06→2.54 s. The pack is
    # exact only while every partkey is in [0, 2^31); since pks is
    # sorted ascending and x < y within a pair, guarding y from above
    # and x from below covers both — a catalog past 2^31 parts or a
    # negative key raises loudly (the _EXACT_KEY_MAX_N discipline)
    # instead of silently colliding.
    pairs = per_cust.repartition(max(8, par // 4)).select(
        F.explode(
            F.expr(
                "flatten(transform(pks, (x, i) -> "
                "transform(slice(pks, i + 2, size(pks)), "
                "y -> CASE WHEN y >= 2147483648 OR x < 0 THEN "
                "CAST(raise_error('_copurchase_edges: partkey outside "
                "[0, 2^31) does not fit the packed pair key — widen the "
                "pack before admitting such keys') AS BIGINT) "
                "ELSE shiftleft(CAST(x AS BIGINT), 32) + y END)))"
            )
        ).alias("pp")
    )
    pc = (
        pairs.repartition(max(256, 8 * par), F.col("pp"))
        .groupBy("pp")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 5)
        .select(
            F.shiftright("pp", 32).alias("pa"),
            F.col("pp").bitwiseAND(F.lit(0xFFFFFFFF)).alias("pb"),
            "c",
        )
    )
    if with_weight:
        pc = pc.withColumn("w", F.expr("(1000000 + c - 1) div c").cast("bigint"))
        return (
            pc.selectExpr("pa AS src", "pb AS dst", "w")
            .unionAll(pc.selectExpr("pb AS src", "pa AS dst", "w"))
            .repartition("src")
            .persist()
        )
    return (
        pc.selectExpr("pa AS src", "pb AS dst")
        .unionAll(pc.selectExpr("pb AS src", "pa AS dst"))
        .repartition("src")
        .persist()
    )


@register(
    "ppr_seeded_related_parts",
    oracle=_ppr_oracle(6),
    doc=(
        "Personalized PageRank over the part co-purchase graph "
        "(support >= 5, the LPA edge source): the restart mass "
        "(1-d) = 0.15, scaled by |V|, is paid ONLY to the 5 highest-"
        "degree seed parts each round, so rank measures proximity to "
        "the seed set — the related-items relevance propagation "
        "recommenders run (Pinterest's Pixie shape, computed exactly "
        "instead of by random walks). The ENTIRE 6-round iteration is "
        "the pagerank integer discipline (1e-6-unit BIGINT ranks, "
        "half-up 1e-8 shares, integer damping update; seed base "
        "30000·|V| micro-units = (1-d)·|V|·1e6/5 exactly), so the "
        "unrolled MATERIALIZED-CTE oracle replays it bit-for-bit. "
        "Plan per round: one state-edge join + one dst-keyed "
        "aggregate; dst deg AND seed base ride the edge list (joined "
        "once up front), state lazily localCheckpointed at cadence 3 "
        "(the pagerank sweep), seeds via TakeOrderedAndProject (never a "
        "partition-less window)."
    ),
    tags=("graph", "analytics", "agg", "join"),
)
def ppr_seeded_related_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    rounds = 6
    e = _copurchase_edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    nv = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    seeds = (
        deg.orderBy(F.desc("deg"), F.asc("src"))
        .limit(5)
        .select(F.col("src").alias("id"), F.lit(1).alias("sfl"))
    )
    n0 = (
        deg.select(F.col("src").alias("id"), "deg")
        .join(F.broadcast(seeds), "id", "left")
        .crossJoin(F.broadcast(nv))
        .select(
            "id",
            "deg",
            F.when(F.col("sfl") == 1, 30000 * F.col("n"))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("base_u"),
        )
        .localCheckpoint()
    )
    # dst's deg and seed base ride the edges: one up-front join, the
    # loop is join+agg only (the pagerank shape)
    sym_d = (
        e.join(
            n0.select(
                F.col("id").alias("dst"),
                F.col("deg").alias("dst_deg"),
                F.col("base_u").alias("dst_base_u"),
            ),
            "dst",
        )
        .select("src", "dst", "dst_deg", "dst_base_u")
        .repartition("src")
        .persist()
    )
    state = n0.select(
        "id", "deg", "base_u", F.lit(1_000_000).cast("bigint").alias("rank_u")
    ).localCheckpoint()

    def step(state: DataFrame) -> DataFrame:
        return (
            sym_d.join(
                state.select(
                    F.col("id").alias("src"),
                    F.expr("(200 * rank_u + deg) div (2 * deg)").alias("share_e8"),
                ),
                "src",
            )
            .groupBy(
                F.col("dst").alias("id"),
                F.col("dst_deg").alias("deg"),
                F.col("dst_base_u").alias("base_u"),
            )
            .agg(F.sum("share_e8").alias("in_mass_e8"))
            .select(
                "id",
                "deg",
                "base_u",
                (
                    F.col("base_u")
                    + F.expr("(170 * in_mass_e8 + 10000) div 20000")
                )
                .cast("bigint")
                .alias("rank_u"),
            )
        )

    state = fixed_rounds(state, step, rounds, every=3)
    e.unpersist()
    sym_d.unpersist()
    return state.select(
        F.col("id").alias("part_id"),
        (F.col("rank_u").cast("double") / F.lit(1_000_000.0)).alias("ppr"),
        F.when(F.col("base_u") > 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_seed"),
    )


# ---------------------------------------------------------------------------
# BFS hop distance (round-11 widening)
# ---------------------------------------------------------------------------


def _bfs_oracle(rounds: int) -> str:
    parts = [
        """cb0 AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
cb AS MATERIALIZED (
  SELECT ck, unnest(list_sort(list(pk))[1:128]) AS pk FROM cb0 GROUP BY ck
),
pc AS MATERIALIZED (
  SELECT a.pk AS pa, b.pk AS pb
  FROM cb a JOIN cb b ON a.ck = b.ck AND a.pk < b.pk
  GROUP BY a.pk, b.pk
  HAVING count(*) >= 5
),
e AS MATERIALIZED (
  SELECT pa AS src, pb AS dst FROM pc UNION ALL SELECT pb, pa FROM pc
),
deg AS MATERIALIZED (
  SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
),
seeds AS (SELECT id FROM deg ORDER BY deg DESC, id LIMIT 5),
d0 AS MATERIALIZED (
  SELECT d.id,
         CAST(CASE WHEN s.id IS NOT NULL THEN 0 END AS BIGINT) AS dist
  FROM deg d LEFT JOIN seeds s USING (id)
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
  SELECT d.id, COALESCE(d.dist, m.mind + 1) AS dist
  FROM d{i - 1} d
  LEFT JOIN (SELECT e.dst AS id, MIN(p.dist) AS mind
             FROM d{i - 1} p JOIN e ON e.src = p.id
             WHERE p.dist IS NOT NULL GROUP BY e.dst) m USING (id)
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT id AS part_id, CAST(dist AS BIGINT) AS hops
FROM d{rounds} WHERE dist IS NOT NULL
"""
    )


@register(
    "graph_bfs_hops",
    oracle=_bfs_oracle(4),
    doc=(
        "BFS hop distance from the 5 highest-degree parts over the "
        "co-purchase graph (the LPA/PPR edge source) — the MIN-PLUS "
        "semiring member that completes the iterative-graph family "
        "(pagerank/PPR propagate SUMS, LPA argmax-labels, HITS "
        "alternates normalized sums, BOM doubling grows a closure; "
        "none yields a DISTANCE). 4 rounds = hops <= 4, the "
        "neighborhood radius a related-items UI actually renders. "
        "BFS monotonicity makes the update a COALESCE (a node's "
        "first-reached round IS its final distance — no re-relaxation "
        "like general Bellman-Ford), so state stays (id, nullable "
        "dist) and the unrolled MATERIALIZED-CTE oracle replays the "
        "rounds exactly: all-integer, no tie-break surface at all. "
        "Plan per round: reached-frontier ⋈ pre-partitioned edges + "
        "one dst-keyed MIN + a left join back to state, "
        "localCheckpoint per round — the LPA plan with MIN for "
        "argmax."
    ),
    tags=("graph", "analytics", "agg", "join"),
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    rounds = 4
    e = _copurchase_edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    seeds = (
        deg.orderBy(F.desc("deg"), F.asc("src"))
        .limit(5)
        .select(F.col("src").alias("id"), F.lit(0).cast("bigint").alias("s_dist"))
    )
    state = (
        deg.select(F.col("src").alias("id"))
        .join(F.broadcast(seeds), "id", "left")
        .select("id", F.col("s_dist").alias("dist"))
        .localCheckpoint()
    )

    def expand(state: DataFrame) -> DataFrame:
        m = (
            e.join(
                state.filter(F.col("dist").isNotNull()).select(
                    F.col("id").alias("src"), "dist"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg((F.min("dist") + 1).alias("mind"))
        )
        return state.join(m, "id", "left").select(
            "id", F.coalesce(F.col("dist"), F.col("mind")).alias("dist")
        )

    state = fixed_rounds(state, expand, rounds)
    e.unpersist()
    return state.filter(F.col("dist").isNotNull()).select(
        F.col("id").alias("part_id"), F.col("dist").cast("bigint").alias("hops")
    )


# ---------------------------------------------------------------------------
# Weighted cheapest path (round-12 widening)
# ---------------------------------------------------------------------------

_SSSP_INF = 10**15  # sentinel "unreached"; max real path cost <= 4 * 200000


def _sssp_oracle(rounds: int) -> str:
    parts = [
        f"""cb0 AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
cb AS MATERIALIZED (
  SELECT ck, unnest(list_sort(list(pk))[1:128]) AS pk FROM cb0 GROUP BY ck
),
pc AS MATERIALIZED (
  SELECT a.pk AS pa, b.pk AS pb, count(*) AS c
  FROM cb a JOIN cb b ON a.ck = b.ck AND a.pk < b.pk
  GROUP BY a.pk, b.pk
  HAVING count(*) >= 5
),
e AS MATERIALIZED (
  SELECT pa AS src, pb AS dst, (1000000 + c - 1) // c AS w FROM pc
  UNION ALL SELECT pb, pa, (1000000 + c - 1) // c FROM pc
),
deg AS MATERIALIZED (
  SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
),
seeds AS (SELECT id FROM deg ORDER BY deg DESC, id LIMIT 5),
d0 AS MATERIALIZED (
  SELECT d.id,
         CAST(CASE WHEN s.id IS NOT NULL THEN 0 ELSE {_SSSP_INF} END
              AS BIGINT) AS dist
  FROM deg d LEFT JOIN seeds s USING (id)
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
  SELECT d.id, LEAST(d.dist, COALESCE(m.mind, {_SSSP_INF})) AS dist
  FROM d{i - 1} d
  LEFT JOIN (SELECT e.dst AS id, MIN(p.dist + e.w) AS mind
             FROM d{i - 1} p JOIN e ON e.src = p.id
             WHERE p.dist < {_SSSP_INF} GROUP BY e.dst) m USING (id)
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT id AS part_id, CAST(dist AS BIGINT) AS cost_u
FROM d{rounds} WHERE dist < {_SSSP_INF}
"""
    )


@register(
    "graph_weighted_cheapest",
    oracle=_sssp_oracle(4),
    doc=(
        "Bounded-round Bellman-Ford cheapest path from the 5 highest-"
        "degree parts over the WEIGHTED co-purchase graph — edge cost "
        "= integer-ceil(1e6 / co-purchase-count), so strong ties are "
        "cheap and the distance is an affinity metric, not a hop "
        "count. Unlike BFS (graph_bfs_hops) the update must RE-RELAX: "
        "a 2-edge path through strong ties can undercut a direct weak "
        "edge found earlier, so state is LEAST(old, best-new-offer) "
        "per round instead of first-reached COALESCE — the genuine "
        "min-plus semiring with non-unit weights. 4 rounds = optimal "
        "over paths of <= 4 edges (the bounded-horizon contract; "
        "Bellman-Ford's full fixpoint is |V|-1 rounds — at 100 TB you "
        "run the same loop to convergence-detection via a count of "
        "improved rows). All-integer: BIGINT costs, exact integer "
        "ceil-division weights, an UNREACHED sentinel of 1e15 instead "
        "of nullable state (LEAST/COALESCE shapes identical in both "
        "engines), zero tie-break surface. Plan per round: frontier "
        "join on pre-partitioned weighted edges + one dst-keyed MIN + "
        "a left join back, localCheckpoint each round — the BFS plan "
        "with (dist + w) relaxation."
    ),
    tags=("graph", "analytics", "agg", "join"),
)
def graph_weighted_cheapest(spark: SparkSession, sf_dir: str) -> DataFrame:
    rounds = 4
    e = _copurchase_edges(spark, sf_dir, with_weight=True)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    seeds = (
        deg.orderBy(F.desc("deg"), F.asc("src"))
        .limit(5)
        .select(F.col("src").alias("id"), F.lit(0).cast("bigint").alias("s_dist"))
    )
    state = (
        deg.select(F.col("src").alias("id"))
        .join(F.broadcast(seeds), "id", "left")
        .select(
            "id",
            F.coalesce(F.col("s_dist"), F.lit(_SSSP_INF)).cast("bigint").alias("dist"),
        )
        .localCheckpoint()
    )

    def relax(state: DataFrame) -> DataFrame:
        m = (
            e.join(
                state.filter(F.col("dist") < _SSSP_INF).select(
                    F.col("id").alias("src"), "dist"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("mind"))
        )
        return state.join(m, "id", "left").select(
            "id",
            F.least(
                F.col("dist"), F.coalesce(F.col("mind"), F.lit(_SSSP_INF))
            ).alias("dist"),
        )

    state = fixed_rounds(state, relax, rounds)
    e.unpersist()
    return state.filter(F.col("dist") < _SSSP_INF).select(
        F.col("id").alias("part_id"), F.col("dist").cast("bigint").alias("cost_u")
    )


# ---------------------------------------------------------------------------
# Rank-2 ALS matrix factorization (round-13) — see operators/als.py
# ---------------------------------------------------------------------------


def _als_oracle():
    from tda596_lab02mapreduce_spark.operators.als import als_oracle_sql

    return als_oracle_sql()


@register(
    "recsys_als_rank2",
    oracle=_als_oracle,
    doc=(
        "Rank-2 ALS matrix factorization over the customer x brand "
        "purchase matrix — the MODEL-BASED collaborative filter the "
        "recsys band lacked (memory-based twin: recsys_item_cosine_"
        "topk; r12 verdict #2). Two full ALS rounds of per-key ridge "
        "least-squares via the exact 2x2 Cramer rule on MEAN-"
        "NORMALIZED BIGINT normal equations (ALS-WR's lambda*n_u "
        "scaling in integer milli-units; mean normalization is what "
        "keeps the million-user item solve in int64 while the 25-item "
        "user solve shares the identical code path). Deterministic "
        "triangular-rank init breaks rank-2 symmetry; all divisions "
        "sign-decomposed trunc-div emitted identically in Spark "
        "(`div`) and DuckDB (`//`); factors clamp to +-8S by "
        "contract. The returned 25-row item factor table hash-proves "
        "the ENTIRE trajectory (every user factor feeds the item "
        "solve); the oracle replays all 4 half-rounds in one unrolled "
        "CTE. Plan: ratings partitioned once on u, then per round one "
        "broadcast join + user-keyed aggregate and one co-partitioned "
        "join + 25-key aggregate — zero driver actions, zero "
        "collects, the only broadcast is 25 rows. Training-loss "
        "decrease over rounds is pinned in tests/test_als.py."
    ),
    tags=("analytics", "ml", "llm", "agg", "join"),
)
def recsys_als_rank2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.operators.als import als_rank2_factors

    return als_rank2_factors(spark, sf_dir)


def _als_topk_oracle():
    from tda596_lab02mapreduce_spark.operators.als import (
        als_recommend_oracle_sql,
    )

    return als_recommend_oracle_sql()


@register(
    "recsys_als_topk",
    oracle=_als_topk_oracle,
    doc=(
        "SERVE half of the rank-2 ALS factorization (fit/serve "
        "symmetry: kmeans fit->assign, PCA fit->project, BPE "
        "train->encode, ALS factors->recommend): per customer the "
        "top-3 brands by predicted affinity x.y EXCLUDING brands "
        "already purchased — the model-based recommendation list the "
        "memory-based recsys_item_cosine_topk cannot produce (no user "
        "representation there). Scores are exact BIGINT dot products "
        "of the trained integer factors, ranked (score DESC, brand "
        "ASC) — a total order, zero cross-engine float risk. Plan: "
        "user factors x broadcast(25-row item factors) nested-loop "
        "(25 candidates/user), left-anti on the rated pairs, then a "
        "customer-partitioned WindowGroupLimit top-3 — parallelism "
        "grows with users, no global sort, no driver action. The "
        "oracle replays the full trajectory (the same unrolled CTEs "
        "as recsys_als_rank2) plus the scored anti-joined rank."
    ),
    tags=("analytics", "ml", "llm", "window", "join"),
)
def recsys_als_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.operators.als import als_recommend_topk

    return als_recommend_topk(spark, sf_dir)


def _als_heldout_oracle():
    from tda596_lab02mapreduce_spark.operators.als import (
        als_heldout_oracle_sql,
    )

    return als_heldout_oracle_sql()


@register(
    "recsys_als_heldout_sse",
    oracle=_als_heldout_oracle,
    doc=(
        "Held-out EVALUATION of the rank-2 ALS (fit/serve/EVAL "
        "symmetry — the roc_auc_logistic_score precedent for the "
        "GLM; r13 verdict #3): the rating triples split by a "
        "deterministic md5 fold on (customer, brand) (fold 0 = test, "
        "1-4 = train — the conformal fold discipline), the SAME "
        "_train_loop fit on the train fold only, then one row of "
        "exact integer errors: train and held-out SSE in "
        "(milli-rating)^2 units, held-out MAE in milli-rating units, "
        "plus the cold-start count (test pairs whose user never "
        "appears in train score COALESCE(factor, 0) — the honest "
        "prediction 0 for an unseen key). Every residual is the "
        "sign-decomposed trunc-div of BIGINTs, so split + trajectory "
        "+ both error sums hash-replay in the unrolled oracle. Plan: "
        "the fold filter is a map-side predicate on the once-built "
        "ratings; each error sum is one join + a 1-row aggregate. "
        "Per-rating held-out error >= train error is pinned in "
        "tests/test_als.py."
    ),
    tags=("analytics", "ml", "llm", "agg", "join"),
)
def recsys_als_heldout_sse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.operators.als import als_heldout_eval

    return als_heldout_eval(spark, sf_dir)
