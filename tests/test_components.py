"""Connected-components operator (operators/components.py).

The oracle test (tests/test_queries_oracle.py::union_find_components)
hash-checks the full query against a DuckDB WITH RECURSIVE fixpoint;
these tests pin the operator's algorithmic properties on synthetic
graphs where the answer is known by construction — in particular a
long chain, which forces many propagation rounds (the documents
corpus only ever needs ~2).
"""

from __future__ import annotations

import pytest

from tda596_lab02mapreduce_spark.operators.components import connected_components


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = connected_components(df, **kw)
    return {r["id"]: r["component"] for r in out.collect()}


def test_chain_collapses_to_min(spark):
    # 0-1-2-...-9: diameter 9, needs multiple min-propagation rounds.
    got = _cc(spark, [(i, i + 1) for i in range(9)])
    assert got == {i: 0 for i in range(10)}


def test_disjoint_components_stay_disjoint(spark):
    # clique {1,2,3}, edge {10,11}, chain {20,21,22}; min id labels each.
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (21, 20), (21, 22)]
    got = _cc(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_edge_direction_is_ignored(spark):
    # labels must propagate against the stored edge direction too.
    got = _cc(spark, [(5, 1), (1, 9)])
    assert got == {1: 1, 5: 1, 9: 1}


def test_max_iter_guard_raises(spark):
    with pytest.raises(RuntimeError, match="no fixpoint"):
        _cc(spark, [(i, i + 1) for i in range(9)], max_iter=2)


def test_max_iter_guard_leaves_no_cached_edges(spark):
    """A loop that gives up must not leave its edge layout behind in the
    session-global cache, where it would outlive the failed query."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="no fixpoint"):
        _cc(spark, [(i, i + 1) for i in range(20)], max_iter=2)
    assert cache.isEmpty()


def test_pagerank_star_graph_analytic_fixpoint(spark):
    """Star K_{1,4}: the fixpoint is exactly solvable — center
    r_c = 0.66/0.2775 ≈ 2.3784, leaves ≈ 0.6554. The alternating
    two-variable iteration contracts by 0.7225 per PAIR of rounds, so
    40 rounds land within ~2e-3 (0.7225^20 · the initial error)."""
    from tda596_lab02mapreduce_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "src long, dst long"
    )
    got = {r.id: r.rank for r in pagerank(edges, "src", "dst", iters=40).collect()}
    assert abs(got[0] - 0.66 / 0.2775) < 5e-3
    for leaf in range(1, 5):
        assert abs(got[leaf] - (0.15 + 0.2125 * (0.66 / 0.2775))) < 5e-3
    # mass conserved up to the 1e-6 integer-unit quantization the
    # exact cross-engine iteration carries (operators/pagerank.py)
    assert abs(sum(got.values()) - 5.0) < 1e-4


def test_pagerank_neardup_mass_and_coverage(spark, sf_correctness):
    """Rank mass is conserved (sum == |V|, an exact invariant of the
    undirected form), every graph node gets a rank, and all ranks are
    positive with floor 1-d."""
    from tda596_lab02mapreduce_spark.registry import get

    out = get("pagerank_neardup_hubs").spark_fn(spark, sf_correctness).collect()
    n = len(out)
    assert n > 0
    assert abs(sum(r.rank for r in out) - n) < 1e-5 * n
    assert all(r.rank >= 0.15 - 1e-12 for r in out)
    # non-degeneracy guard (the vacuous-oracle lesson): the round-7
    # prefix-blocked graph was degree-regular and every rank was
    # exactly 1.0 — an oracle that can't fail. The shared-shingle
    # graph must keep real hub structure for the hash to mean anything.
    distinct_ranks = len({r.rank for r in out})
    assert distinct_ranks >= 10, f"degenerate rank distribution: {distinct_ranks}"


def test_star_equals_label_on_synthetic_graphs(spark):
    """Kiveris large-star/small-star must agree with min-label
    propagation wherever both run: chain, cliques, disjoint mix."""
    cases = [
        [(i, i + 1) for i in range(9)],
        [(1, 2), (2, 3), (1, 3), (10, 11), (21, 20), (21, 22)],
        [(5, 1), (1, 9)],
    ]
    for edges in cases:
        assert _cc(spark, edges, algorithm="star") == _cc(spark, edges)


def test_star_equals_label_on_neardup_graph(spark, sf_smoke):
    """Equality on the real near-dup pair graph (the production input
    shape: tiny stars/cliques from blocked-Jaccard pairs)."""
    from pyspark.sql import functions as F

    from tda596_lab02mapreduce_spark import io
    from tda596_lab02mapreduce_spark.queries.llm_pipeline import (
        _blocked_jaccard_pairs,
    )

    docs = io.load(spark, sf_smoke, "documents")
    pairs = _blocked_jaccard_pairs(docs).filter(F.col("jaccard") >= 0.5)
    label = {
        r["id"]: r["component"] for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    star = {
        r["id"]: r["component"]
        for r in connected_components(pairs, "id_a", "id_b", algorithm="star").collect()
    }
    assert label == star and len(star) > 0


def test_star_path_graph_logn_rounds(spark):
    """The adversarial case min-label propagation cannot handle: a
    10k-node path needs O(n) label rounds (max_iter=50 would blow up),
    but large-star/small-star must converge within O(log n) rounds —
    asserted by running with max_iter = 2·ceil(log2 n) + 4 = 32 and
    requiring the exact ground truth (every node labeled 0)."""
    import math

    from pyspark.sql import functions as F

    n = 10_000
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    out = connected_components(
        edges, max_iter=2 * math.ceil(math.log2(n)) + 4, algorithm="star"
    )
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("component").alias("ncomp"),
        F.max("component").alias("maxc"),
    ).first()
    assert (agg["n"], agg["ncomp"], agg["maxc"]) == (n, 1, 0)


def test_star_accepts_string_ids(spark):
    """Star convergence is exact set equality, not a numeric checksum —
    string ids are legal there (and must still produce min-id labels
    lexicographically)."""
    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges, algorithm="star").collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_string_ids_rejected_up_front(spark):
    """sum(comp)-based convergence is NULL-blind for string ids (SUM of
    strings is NULL, NULL == NULL → loop exits after one round with
    unconverged labels — advisory finding): the operator must refuse
    non-numeric id columns outright rather than silently under-merge."""
    from tda596_lab02mapreduce_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    with pytest.raises(TypeError, match="numeric node ids"):
        connected_components(edges)
