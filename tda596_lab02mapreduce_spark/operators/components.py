"""Connected components over a candidate-pair graph.

Near-dup *pairs* (MinHash/SimHash/Jaccard output) are not directly
actionable: dedup at corpus scale keeps ONE survivor per transitive
cluster, so the pair graph must be collapsed to components first.
The reference has no analogue (its pipeline stops at exact key
grouping, mrapps/wc.go:21-31); this is the §2C extension step that
makes the dedup family end-to-end usable.

Algorithm: iterative minimum-label propagation — every node starts
labeled with its own id; each round every node takes the min of its
own label and its neighbors' labels; fixpoint = each node holds the
min id reachable in its component.  One round is one shuffle
(join on dst + groupBy src), so total cost is O(diameter) shuffles.
Near-dup graphs are overwhelmingly tiny star/clique clusters
(diameter ≤ 3 observed on the documents corpus), so the loop ends in
a handful of rounds; for adversarially deep graphs pass
``algorithm="star"`` to get the alternating large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14): O(log n) rounds regardless of diameter, each round
two groupBy+join shuffles over the (shrinking) edge list. Equality of
the two algorithms is property-tested on the near-dup graph and on a
10k-node path graph where min-label would need O(n) rounds
(tests/test_components.py).

Scale notes (100 TB posture):
- the edge list is cached pre-partitioned on the join key, so every
  round reuses one shuffle layout instead of re-exchanging; it is
  released on every exit, the no-fixpoint raise included;
- labels are `localCheckpoint`ed each round — iterative loops
  otherwise stack a join+agg lineage per round and replan the whole
  history every action (the classic iterative-Spark trap);
- convergence is detected with a 1-scalar action: labels only ever
  decrease under min-propagation, so sum(label) is strictly monotone
  and sum-unchanged ⟺ fixpoint.  No per-round `.collect()` of data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components"]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iter: int = 50,
    id_out: str = "id",
    comp_out: str = "component",
    algorithm: str = "label",
) -> DataFrame:
    """Collapse an undirected edge list to components.

    Returns one row per node appearing in ``edges`` with its component
    label = the minimum node id reachable from it.  Singletons (nodes
    with no edges) are by definition absent — callers union them back
    if they need total coverage.

    ``algorithm="label"`` (default): min-label propagation, O(diameter)
    rounds — right for the shallow star/clique graphs near-dup pairs
    form. ``algorithm="star"``: Kiveris et al.'s alternating
    large-star/small-star, O(log n) rounds — right for adversarially
    deep graphs (chain-shaped template spam).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if algorithm == "star":
        return _star_components(
            e, max_iter=max_iter, id_out=id_out, comp_out=comp_out
        )
    if algorithm != "label":
        raise ValueError(f"unknown components algorithm {algorithm!r}")
    # Convergence below is sum(comp)-based, which is only sound for
    # numeric ids: with string ids F.sum yields NULL, NULL == NULL
    # compares true in Python, and the loop would silently exit after
    # one propagation round with unconverged labels (advisory finding).
    # Map non-numeric ids through a dense/hashed numeric key first.
    from pyspark.sql.types import NumericType

    for f in e.schema.fields:
        if not isinstance(f.dataType, NumericType):
            raise TypeError(
                f"connected_components: id column {f.name!r} has type "
                f"{f.dataType.simpleString()}; numeric node ids are required "
                "(sum-based fixpoint detection). Hash or zipWithIndex "
                "string ids to numbers first."
            )
    sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # One shuffle up front, reused by the join every round.
    sym = sym.repartition("dst").persist()

    # Lazy checkpoints FUSED with the per-round convergence action
    # (optimization r17, guide §1.2 fewer jobs): the sum aggregate
    # materializes the checkpoint as a side effect, so each round is
    # ONE job instead of eager-materialize + sum (measured on the
    # sibling star loop: 4.63→3.88 s / 3.42→2.99 s at sf0.1). Plan
    # truncation is identical — localCheckpoint wraps the frame in a
    # LogicalRDD either way; eager only forces a separate count() job.
    try:
        labels = (
            sym.select(F.col("src").alias("id"))
            .distinct()
            .select("id", F.col("id").alias("comp"))
            .localCheckpoint(eager=False)
        )
        prev_sum = labels.agg(F.sum("comp")).first()[0]

        for _ in range(max_iter):
            labels = _propagate(sym, labels).localCheckpoint(eager=False)
            cur_sum = labels.agg(F.sum("comp")).first()[0]
            if cur_sum == prev_sum:  # labels monotone ⇒ sum fixed ⇒ fixpoint
                break
            prev_sum = cur_sum
        else:
            raise RuntimeError(
                f"connected_components: no fixpoint in {max_iter} rounds"
            )
    finally:
        sym.unpersist()
    return labels.select(F.col("id").alias(id_out), F.col("comp").alias(comp_out))


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris SoCC'14): every node v links each
    STRICTLY LARGER neighbor to m(v) = min(Γ(v) ∪ {v}). One groupBy +
    one join on the symmetric edge list; no neighbor lists are ever
    collected — m(v) is an aggregate. Output is canonical (src > dst),
    self-loop-free by construction (w > v ≥ m)."""
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = sym.groupBy("src").agg(F.least(F.first("src"), F.min("dst")).alias("_m"))
    # No distinct here: duplicate edges don't change small-star's
    # per-key minima, and the small-star output distinct (the next
    # step in the alternation) collapses them — one less shuffle per
    # round.
    return (
        sym.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: every node v links each neighbor ≤ v (and
    itself) to m(v) = min of those. Keyed on the LARGER endpoint, so
    m(v) = min(dst) < v and the emitted (neighbor, m) ∪ {(v, m)} edges
    stay canonical; the (m, m) self-loop is filtered."""
    keyed = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    m = keyed.groupBy("src").agg(F.min("dst").alias("_m"))
    nbr = (
        keyed.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    self_edge = m.select("src", F.col("_m").alias("dst"))  # src > _m always
    return nbr.unionByName(self_edge).distinct()


def _star_components(
    e: DataFrame, *, max_iter: int, id_out: str, comp_out: str
) -> DataFrame:
    """Alternating large-star/small-star to fixpoint.

    Fixpoint ⟺ the edge set is a union of stars rooted at each
    component's minimum (paper Thm 1); detected EXACTLY by set equality
    (count + subtract-empty) rather than a lossy checksum — two extra
    O(m) actions per round, O(log n) rounds total. Lineage is broken
    per round with localCheckpoint (same iterative-Spark trap as the
    label loop). Works for any orderable id type: no sum-based
    convergence, so the numeric-id restriction of the label algorithm
    does not apply."""
    # Materialize the (possibly expensive) upstream edge pipeline ONCE;
    # nodes and the canonical edge set both derive from the checkpoint
    # (deriving each from `e` re-ran the whole upstream twice — at
    # sf0.1 the blocked-Jaccard pair source alone is ~2 s). All
    # checkpoints are LAZY and fused with the per-round count action
    # (optimization r17, guide §1.2 fewer jobs): the count materializes
    # the round's checkpoint (and, on round 1, e0 behind it) as a side
    # effect, halving the loop's job count. Measured at sf0.1 on the
    # dbscan star fixpoint: 4.63→3.88 s / 3.42→2.99 s (warmed
    # in-session A/B, 2 rounds). Plan truncation is identical; `nodes`
    # materializes inside the final labels job.
    e0 = e.localCheckpoint(eager=False)
    nodes = (
        e0.select(F.col("src").alias("id"))
        .unionByName(e0.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cur = (
        e0.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cnt = cur.count()
    for _ in range(max_iter):
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        nxt_cnt = nxt.count()
        if nxt_cnt == cnt and nxt.subtract(cur).isEmpty():
            cur = nxt
            break
        cur, cnt = nxt, nxt_cnt
    else:
        raise RuntimeError(f"star components: no fixpoint in {max_iter} rounds")

    # stars: every edge is (member, root); roots label themselves.
    # Left-join from the node set so isolated canonical roots that no
    # longer appear as src still get a row.
    labels = nodes.join(
        cur.select(F.col("src").alias("id"), F.col("dst").alias("comp")),
        "id",
        "left",
    ).select("id", F.coalesce("comp", "id").alias("comp"))
    return labels.select(F.col("id").alias(id_out), F.col("comp").alias(comp_out))


def _propagate(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-propagation round: comp'(v) = min(comp(v), min over
    neighbors u of comp(u)).  Inner join suffices for the neighbor min
    (every node in `labels` has ≥1 edge by construction); the final
    `least` folds the node's own label in."""
    nbr_min = (
        sym.join(
            labels.select(F.col("id").alias("dst"), F.col("comp").alias("nbr_comp")),
            "dst",
        )
        .groupBy("src")
        .agg(F.min("nbr_comp").alias("nbr_min"))
    )
    return labels.join(nbr_min, labels["id"] == nbr_min["src"]).select(
        "id", F.least("comp", "nbr_min").alias("comp")
    )
