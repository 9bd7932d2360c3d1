"""PageRank over an undirected candidate-pair graph.

Second member of the iterative-graph family next to
``operators/components.py`` (same reference gap: the reference's
pipeline has no iteration at all — its one job is a single
map→shuffle→reduce pass, mr/coordinator.go:120-140). Over a near-dup
similarity graph, rank identifies the *hub* documents — templates and
boilerplate sources connected to many near-copies — which is how a
training-data pipeline picks cluster canonicals or flags machine-
generated spam families.

Algorithm (Page et al., "The PageRank Citation Ranking", 1999; the
public power-iteration form): rank'(v) = (1-d) + d * Σ_{u~v}
rank(u)/deg(u), run a FIXED number of rounds — deterministic output,
no float-threshold convergence test for engines to disagree on.

Cross-engine determinism (round 8): the ENTIRE iteration runs in
exact integer micro-units — rank carried as a BIGINT in 1e-6 units,
each neighbor share quantized to 1e-8 units with explicit half-up
integer division ((200·rank_u + deg) div (2·deg)), the in-mass an
integer sum (order-independent), and the damping update again pure
integer arithmetic ((170·in_mass + 10000) div 20000 + 150000 for
d=0.85).  No floating point exists anywhere in the loop, so the
10-round recursion is bit-identical at any parallelism and in ANY
engine, and pagerank_neardup_hubs carries a full DuckDB hash oracle
(the unrolled-SQL replay in queries/llm_pipeline.py).  A first
attempt used round-to-6dp DOUBLES per round (the Holt trick): it
failed — 0.85·(exact decimal) + 0.15 lands EXACTLY on x.xxxxx5
boundaries structurally, and Spark's BigDecimal HALF_UP vs DuckDB's
shifted-nearbyint disagree on which side the nearest double falls.
Quantization error vs. the real-valued fixpoint is < 1e-5 per rank —
far inside every consumer's tolerance.

Scale notes (100 TB posture, mirrors components.py):
- the symmetric edge list, and the same list with the receiver's
  degree, are checkpointed once (``localCheckpoint``): the rounds read
  their blocks and there is no cache entry to release;
- degrees are computed once and carried WITH the rank rows (joined a
  single time up front), so each round is join+agg, not join+join;
- the rounds run on ``operators/rounds.fixed_rounds`` with a lazy
  checkpoint every 3 rounds — bounded lineage, and a fixed iteration
  count means zero driver-side convergence actions in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark.operators.rounds import fixed_rounds

__all__ = ["pagerank"]

# damping d = 0.85 in hundredths, so the update is pure integer
# arithmetic (d_pct/100); the SQL replay in queries/llm_pipeline.py
# reads the same constant
DAMPING_PCT = 85
PAGERANK_ROUNDS = 10


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iters: int = PAGERANK_ROUNDS,
    id_out: str = "id",
) -> DataFrame:
    """Rank nodes of an undirected edge list by power iteration.

    Returns ``(id_out, rank)``: one row per node appearing in ``edges``
    with its rank after ``iters`` rounds (initial rank 1.0; ranks sum
    to ~|V|). Singletons are absent by construction (their rank is the
    constant ``1 - d``); callers union them back for total coverage.
    Every node present has degree >= 1, so there are no dangling-mass
    corrections to apply.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = sym.localCheckpoint(eager=False)

    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # the RECEIVER's degree rides on the edge list (joined once, before
    # the loop): each round is then a single join + single aggregate —
    # the rank update happens inside the aggregate's grouping keys
    # instead of a second per-round join against the state frame
    sym_d = (
        sym.join(
            deg.select(F.col("src").alias("dst"), F.col("deg").alias("dst_deg")),
            "dst",
        )
        .select("src", "dst", "dst_deg")
        .localCheckpoint(eager=False)
    )
    base_u = (100 - DAMPING_PCT) * 10_000  # (1-d) in 1e-6 micro-units

    # (id, deg, rank_u) rides as one frame: one up-front join, none in
    # the loop; rank_u is the rank in exact 1e-6 integer units.
    state = deg.select(
        F.col("src").alias("id"), "deg", F.lit(1_000_000).cast("bigint").alias("rank_u")
    ).localCheckpoint()

    def step(state: DataFrame) -> DataFrame:
        return (
            sym_d.join(
                state.select(
                    F.col("id").alias("src"),
                    # share = rank/deg quantized to 1e-8 units,
                    # half-up: (200·rank_u + deg) div (2·deg)
                    F.expr("(200 * rank_u + deg) div (2 * deg)").alias(
                        "share_e8"
                    ),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"), F.col("dst_deg").alias("deg"))
            .agg(F.sum("share_e8").alias("in_mass_e8"))
            .select(
                "id",
                "deg",
                # rank' = (1-d) + d·in_mass, half-up back to 1e-6 units
                (
                    F.lit(base_u).cast("bigint")
                    + F.expr(
                        f"(2 * {DAMPING_PCT} * in_mass_e8 + 10000) div 20000"
                    )
                ).alias("rank_u"),
            )
        )

    # cadence 3 (round-9 sweep at sf0.1, eager cuts): every round
    # 8.1 s, every 2nd 4.1-5.1 s, every 3rd 3.6-4.6 s, every 5th 4.2 s,
    # fully chained 6.9 s. Lazy cuts at cadence 3 over the checkpointed
    # edges against eager cuts over persisted ones, fresh-JVM A/B at
    # sf0.1: median 6.80 s vs 7.12 s (7 runs a side). Results do not
    # depend on placement (pure integer plan).
    state = fixed_rounds(state, step, iters, every=3)
    return state.select(
        F.col("id").alias(id_out),
        (F.col("rank_u").cast("double") / F.lit(1_000_000.0)).alias("rank"),
    )
