"""HITS (hubs & authorities) over a directed / bipartite edge list.

Third member of the iterative-graph family (components, pagerank,
hits — the reference's engine has no iteration at all: its one job is
a single map→shuffle→reduce pass, mr/coordinator.go:120-140).
Kleinberg's HITS ("Authoritative sources in a hyperlinked
environment", JACM 1999) is the directed complement of PageRank: a
node is a good HUB if it points at good authorities, a good AUTHORITY
if good hubs point at it. On a bipartite interaction graph
(customer→part, user→document) this is the classic co-HITS
recommendation primitive: authority = items endorsed by broad
customers, hub = customers whose baskets concentrate on endorsed
items.

Cross-engine determinism (the pagerank.py discipline): the whole
power iteration runs in exact integer micro-units. Scores are BIGINT
in 1e-6 units on the hot aggregate path (DECIMAL(38) only inside the
tiny per-node normalize product); each half-round is an integer-sum
aggregate followed by max-normalization via integer division
((1e6·s) div max_s — max-norm is the standard alternative to the L2
norm and keeps the fixpoint direction identical). No floating point
exists anywhere in the loop, so a fixed iteration count is
bit-identical at any parallelism and in any engine — the registered
query carries a full unrolled-CTE DuckDB hash oracle.

Scale notes (100 TB posture, mirrors pagerank.py):
- the deduped edge list is checkpointed once (``localCheckpoint``)
  and both join directions read it: the rounds read its blocks and
  there is no cache entry to release;
- the per-round max is a 1-row aggregate crossJoin-broadcast — it
  stays INSIDE the plan (no driver-side collect in the loop);
- fixed iteration count on ``operators/rounds.fixed_rounds``, hub
  scores lazily checkpointed per round — no lineage stacking, zero
  driver decisions in the loop;
- integer sums are order-independent, so AQE/skew-split re-plans
  cannot change the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark.operators.rounds import fixed_rounds

__all__ = ["hits"]

_UNIT = 1_000_000
HITS_ROUNDS = 5  # hits_copurchase_bipartite's rounds, replayed by hits_oracle_sql


def hits(edges: DataFrame, *, iters: int = HITS_ROUNDS) -> DataFrame:
    """Run ``iters`` HITS rounds on the directed ``(src, dst)`` edge list.

    One round is: authority(d) = Σ_{s→d} hub(s), max-normalized to
    1e6; then hub(s) = Σ_{s→d} authority(d), max-normalized to 1e6.
    Hubs start at 1e6. Returns the union frame
    ``(node_type ∈ {'hub','auth'}, node_id, score_u)`` with scores in
    exact integer micro-units (max node of each side scores exactly
    1e6). Nodes absent from ``edges`` are absent from the output.
    """
    # Scores are BIGINT micro-units on the hot aggregate path (sum ≤
    # 1e6·max_degree, so bigint is safe while max_degree < 9e12); the
    # normalize expression alone widens to DECIMAL(38) for the 1e6·s
    # product (safe while max_degree < 1e6 even in bigint, unbounded
    # in decimal). Same integers either way — the r9 tuning measured
    # DECIMAL sums as the single largest cost (14.8 s → 11 s at
    # sf0.1 after this + the raw-frame checkpoint below).
    norm = f"CAST((CAST({_UNIT} AS DECIMAL(38,0)) * s) div m AS BIGINT)"
    e = edges.select("src", "dst").distinct()
    # Materialize the deduped edge list ONCE: both join directions of
    # every round read it, and without the checkpoint each re-ran the
    # full upstream join + distinct (optimization r16, guide §1.2 —
    # jobs do not share un-materialized subplans). No
    # repartition(key) first: the checkpoint does not keep it (see
    # queries/association._copurchase_edges).
    e = e.localCheckpoint(eager=False)
    hub = e.select("src").distinct().select(
        "src", F.lit(_UNIT).cast("bigint").alias("hu")
    ).localCheckpoint()

    def round_(hub: DataFrame) -> tuple[DataFrame, DataFrame]:
        # the raw sums are referenced TWICE (max branch + normalize
        # branch): without the checkpoint the join+agg would run twice
        # per half-round (measured — the other half of the r9 tuning)
        a_raw = (
            e.join(hub, "src")
            .groupBy("dst")
            .agg(F.sum("hu").alias("s"))
            .localCheckpoint(eager=False)
        )
        a_max = a_raw.agg(F.max("s").alias("m"))
        auth = a_raw.crossJoin(F.broadcast(a_max)).select(
            "dst", F.expr(norm).alias("au")
        )
        h_raw = (
            e.join(auth.withColumnRenamed("au", "hu"), "dst")
            .groupBy("src")
            .agg(F.sum("hu").alias("s"))
            .localCheckpoint(eager=False)
        )
        h_max = h_raw.agg(F.max("s").alias("m"))
        hub = h_raw.crossJoin(F.broadcast(h_max)).select(
            "src", F.expr(norm).alias("hu")
        )
        return auth, hub

    # all but the last round through the driver, cut every round; the
    # last runs inline because its authority frame is returned too.
    # Fresh-JVM A/B at sf0.1 of this loop over the checkpointed edges
    # against persisted per-side layouts with an eager hub checkpoint
    # every 2nd round: 6.98/5.01/4.90 s vs 8.47/8.55/8.96 s
    hub = fixed_rounds(hub, lambda h: round_(h)[1], iters - 1)
    auth, hub = round_(hub)
    return hub.select(
        F.lit("hub").alias("node_type"),
        F.col("src").alias("node_id"),
        F.col("hu").cast("bigint").alias("score_u"),
    ).unionByName(
        auth.select(
            F.lit("auth").alias("node_type"),
            F.col("dst").alias("node_id"),
            F.col("au").cast("bigint").alias("score_u"),
        )
    )


def hits_oracle_sql(edge_cte: str) -> str:
    """Unrolled DuckDB replay of ``HITS_ROUNDS`` :func:`hits` rounds (the
    pagerank oracle discipline): ``edge_cte`` must define a relation ``e(src, dst)``
    (already distinct). Every round is the identical integer-sum +
    integer-division max-normalization, so the replay hashes
    bit-exactly against the Spark plan."""
    # Every *r stage is referenced TWICE (the normalize join and its
    # max scalar subquery): without MATERIALIZED, DuckDB inlines CTEs,
    # so the reference fan-out compounds exponentially across rounds —
    # 5 unrolled rounds hang. MATERIALIZED pins each stage to one
    # evaluation (the CTE analogue of the Spark plan's localCheckpoint).
    parts = [
        edge_cte,
        "h0 AS MATERIALIZED (SELECT DISTINCT src,"
        " CAST(1000000 AS HUGEINT) AS hu FROM e)",
    ]
    prev_h = "h0"
    for i in range(1, HITS_ROUNDS + 1):
        parts.append(
            f"a{i}r AS MATERIALIZED (SELECT e.dst, SUM({prev_h}.hu) AS s "
            f"FROM e JOIN {prev_h} USING (src) GROUP BY e.dst)"
        )
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT dst,"
            f" (1000000 * s) // (SELECT max(s) FROM a{i}r)"
            f" AS au FROM a{i}r)"
        )
        parts.append(
            f"h{i}r AS MATERIALIZED (SELECT e.src, SUM(a{i}.au) AS s "
            f"FROM e JOIN a{i} USING (dst) GROUP BY e.src)"
        )
        parts.append(
            f"h{i} AS MATERIALIZED (SELECT src,"
            f" (1000000 * s) // (SELECT max(s) FROM h{i}r)"
            f" AS hu FROM h{i}r)"
        )
        prev_h = f"h{i}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT 'hub' AS node_type, src AS node_id, CAST(hu AS BIGINT) AS score_u
FROM h{HITS_ROUNDS}
UNION ALL
SELECT 'auth', dst, CAST(au AS BIGINT) FROM a{HITS_ROUNDS}
"""
    )
