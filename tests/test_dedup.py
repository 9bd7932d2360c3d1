"""Property tests for the non-SQL-expressible dedup/similarity
operators — the invariants the DuckDB oracle can't check
(SURVEY.md §5: 'candidate set ⊇ exact-duplicate pairs')."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import io
from tda596_lab02mapreduce_spark.operators import dedup as dd
from tda596_lab02mapreduce_spark.operators import similarity as sim


def _ann_dir(default: str) -> str:
    """The corpus dir the ANN recall-floor tests run against:
    SPARK_GRAFT_ANN_DIR overrides the fixture so the SAME floors run
    on the scale band's staged corpus (tools/scale_stress.py band
    'ann' — r14 verdict #3: retrieval quality is the one axis the
    wall/shape bands don't measure)."""
    import os

    return os.environ.get("SPARK_GRAFT_ANN_DIR", default)


def _docs_with_dups(spark, sf_dir):
    """Fixture corpus + injected exact and near duplicates."""
    docs = io.load(spark, sf_dir, "documents").select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    # near-dup: append one token
    near = docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" extra")).alias("text"),
    )
    return docs.unionByName(exact).unionByName(near)


def test_exact_dedup_keeps_min_id(spark, sf_smoke):
    df = _docs_with_dups(spark, sf_smoke)
    out = dd.exact_dedup(df, "text", "doc_id")
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    # injected exact dups (>=100000, <200000) must all be gone
    assert not any(100000 <= i < 200000 for i in ids)
    # count = distinct texts
    assert out.count() == df.select("text").distinct().count()


@pytest.mark.parametrize("family", ["xxh64", "md5lin"])
def test_minhash_catches_exact_dups(spark, sf_smoke, family):
    df = _docs_with_dups(spark, sf_smoke)
    pairs = dd.minhash_lsh_pairs(df, "text", "doc_id", family=family)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # identical text ⇒ identical signature ⇒ must collide in every band
    for i in range(5):
        assert (i, i + 100000) in got, f"exact dup pair ({i},{i+100000}) missed"


def test_minhash_jaccard_verify_scores_exact_dups_1(spark, sf_smoke):
    df = _docs_with_dups(spark, sf_smoke)
    pairs = dd.minhash_lsh_pairs(df, "text", "doc_id")
    verified = dd.jaccard_verify(df, pairs, "text", "doc_id", threshold=0.99)
    got = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    for i in range(5):
        assert got.get((i, i + 100000)) == 1.0


@pytest.mark.parametrize("family", ["xxh64", "md5"])
def test_simhash_exact_dups_hamming_zero(spark, sf_smoke, family):
    df = _docs_with_dups(spark, sf_smoke)
    pairs = dd.simhash_pairs(df, "text", "doc_id", max_hamming=0, family=family)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    for i in range(5):
        assert (i, i + 100000) in got


def test_simhash_near_dups_low_hamming(spark, sf_smoke):
    df = _docs_with_dups(spark, sf_smoke)
    pairs = dd.simhash_pairs(df, "text", "doc_id", max_hamming=16)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    hits = sum((i, i + 200000) in got for i in range(5))
    assert hits >= 3, f"only {hits}/5 near-dups within hamming 16"


def test_lsh_topk_recall(spark, sf_smoke):
    emb = io.load(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = sim.brute_force_topk(emb, queries, k=5)
    approx = sim.lsh_topk(emb, queries, n_planes=5, n_tables=6)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # the fixture vectors are near-random gaussians (neighbors are weak),
    # so recall is modest by nature; it must still be well above the
    # candidate-sampling floor and rise with OR-construction
    assert recall >= 0.25, f"recall@5 {recall:.2f} too low"
    assert all(q != n for q, n in a)


def test_ivf_topk_recall_and_shape(spark, sf_smoke):
    emb = io.load(spark, _ann_dir(sf_smoke), "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = sim.brute_force_topk(emb, queries, k=5)
    approx = sim.ivf_topk(emb, queries, n_cells=8, n_probe=3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    # probing 3/8 cells: recall must beat the 3/8 random-scan floor
    recall = len(e & a) / len(e)
    assert recall >= 0.4, f"IVF recall@5 {recall:.2f} too low"
    assert all(q != n for q, n in a)
    # every query emits exactly k ranked neighbors
    from collections import Counter

    per_q = Counter(q for q, _ in a)
    assert all(v == 5 for v in per_q.values())


def test_kmeans_centroids_deterministic(spark, sf_smoke):
    emb = io.load(spark, sf_smoke, "embeddings")
    c1 = sim.kmeans_centroids(emb, k=4, iters=2).collect()
    c2 = sim.kmeans_centroids(emb, k=4, iters=2).collect()
    assert sorted(r.cell for r in c1) == [0, 1, 2, 3]
    m1 = {r.cell: r.centroid for r in c1}
    m2 = {r.cell: r.centroid for r in c2}
    assert m1 == m2


def test_ivf_sampled_training_recall(spark, sf_smoke):
    """Training the coarse quantizer on a 30% sample (the 100 TB
    posture) must not collapse recall — assignment still covers every
    corpus row, only centroid placement is approximate."""
    emb = io.load(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = sim.brute_force_topk(emb, queries, k=5)
    approx = sim.ivf_topk(emb, queries, n_cells=8, n_probe=3, train_fraction=0.3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4, f"sampled-training IVF recall@5 {recall:.2f} too low"
    # deterministic: seeded sample → same centroids → same result set
    b = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk(
            emb, queries, n_cells=8, n_probe=3, train_fraction=0.3
        ).collect()
    }
    assert a == b


@pytest.mark.parametrize("family", ["xxh64", "md5"])
def test_simhash_runlength_equals_occurrence_fold(spark, sf_smoke, family):
    """The run-length simhash must be BIT-IDENTICAL to the plain
    per-occurrence fold on every fixture document (sum over multiset
    == count x vote over distinct runs) — for both hash families."""
    from tda596_lab02mapreduce_spark.operators.dedup import (
        _simhash_occurrence_fold,
        simhash,
    )

    docs = io.load(spark, sf_smoke, "documents")
    mismatch = (
        docs.select(
            simhash(F.col("text"), family=family).alias("fast"),
            _simhash_occurrence_fold(F.col("text"), family=family).alias("ref"),
        )
        .filter(F.col("fast") != F.col("ref"))
        .count()
    )
    assert mismatch == 0


def test_ivf_fit_probe_split_caches_model(spark, sf_smoke, tmp_path, monkeypatch):
    """VERDICT r1 #2: the quantizer must be fit once per (dataset,
    params) and reused via the JSON sidecar instead of re-running Lloyd
    per query invocation."""
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path))
    emb = io.load(spark, sf_smoke, "embeddings")

    m1 = sim.ivf_fit(emb, n_cells=4, kmeans_iters=2, dataset_key=sf_smoke)
    assert len(m1) == 4 and len(m1[0][1]) == 64
    # the next fit must come back from the one sidecar bit-identical
    sidecars = list(tmp_path.glob("ivf_*.json"))
    assert len(sidecars) == 1
    m3 = sim.ivf_fit(emb, n_cells=4, kmeans_iters=2, dataset_key=sf_smoke)
    assert m3 == m1

    # probing a prebuilt model matches inline fit exactly (same params
    # → same deterministic centroids → same neighbor set)
    queries = emb.filter(F.col("vec_id") < 10)
    probed = sim.ivf_topk(emb, queries, n_probe=3, model=m3)
    inline = sim.ivf_topk(emb, queries, n_cells=4, kmeans_iters=2, n_probe=3)
    assert sorted(map(tuple, probed.collect())) == sorted(map(tuple, inline.collect()))


def test_ivf_query_keeps_no_dataframe_between_calls(spark, sf_smoke, tmp_path, monkeypatch):
    """Serving similarity_ivf_topk twice must leave nothing in the
    session-global cache: no DataFrame outlives the query that built
    it. The trailing-slash spelling and the throwaway model dir keep
    anything an earlier test built from being served here."""
    from tda596_lab02mapreduce_spark.registry import get

    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path))
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for _ in range(2):
        get("similarity_ivf_topk").spark_fn(spark, sf_smoke + "/").collect()
    assert cache.isEmpty()


@pytest.mark.parametrize("family", ["xxh64", "md5lin"])
def test_fused_minhash_equals_composable_pipeline(spark, sf_correctness, family):
    """The fused one-pass operator must return exactly the pairs the
    composable (pairs → verify) pipeline returns, jaccard included —
    for both hash families."""
    docs = io.load(spark, sf_correctness, "documents")
    fused = dd.minhash_near_dup_pairs(
        docs, "text", "doc_id", threshold=0.5, family=family
    )
    pairs = dd.minhash_lsh_pairs(docs, "text", "doc_id", family=family)
    composed = dd.jaccard_verify(docs, pairs, "text", "doc_id", threshold=0.5)
    f = sorted((r.id_a, r.id_b, round(r.jaccard, 12)) for r in fused.collect())
    c = sorted((r.id_a, r.id_b, round(r.jaccard, 12)) for r in composed.collect())
    assert f == c and len(f) > 0


def test_quantize_round_margin_and_error_bound(spark, sf_correctness):
    """embedding_quantize_int8's oracle compares rounded int8 codes
    bitwise, which is sound only while no scaled coordinate sits at a
    .5 rounding boundary — assert a 1e-6 margin on every coordinate,
    and assert the dequantization error bound (<= 0.5/127 + eps on
    unit vectors) the compression step exists to guarantee. The query
    now emits long form (vec_id, dim, q8); reassemble per-vector here."""
    import math

    from tda596_lab02mapreduce_spark.registry import get

    rows = (
        spark.read.parquet(f"{sf_correctness}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    q: dict = {}
    for r in get("embedding_quantize_int8").spark_fn(spark, sf_correctness).collect():
        q.setdefault(r.vec_id, {})[r.dim] = r.q8
    for r in rows:
        v = [float(x) for x in r.embedding]
        acc = 0.0
        for x in v:  # left fold, exactly the engines' summation order
            acc += x * x
        nrm = math.sqrt(acc)
        codes = [q[r.vec_id][d] for d in range(len(v))]
        assert len(codes) == len(v)
        for x, code in zip(v, codes):
            scaled = x / nrm * 127
            dist = abs(scaled - math.floor(scaled) - 0.5)
            assert dist > 1e-9, f"coordinate {scaled} at a rounding boundary"
            assert abs(code / 127 - x / nrm) <= 0.5 / 127 + 1e-12


def test_knn_classify_properties(spark, sf_correctness):
    """knn_label_classify: exactly one prediction per query vector,
    votes within [1, k], the winning label is a real neighbor label,
    and the prediction agrees with a driver-side recount over the
    similarity_topk-style neighbor set extended to k=10."""
    from tda596_lab02mapreduce_spark import io as _io
    from tda596_lab02mapreduce_spark.registry import get

    emb = _io.load(spark, sf_correctness, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    nbrs = sim.brute_force_topk(emb, queries, k=10).collect()
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    votes: dict[int, dict[int, int]] = {}
    for r in nbrs:
        d = votes.setdefault(r.query_id, {})
        lab = labels[r.neighbor_id]
        d[lab] = d.get(lab, 0) + 1
    want = {
        q: min((l for l, v in d.items() if v == max(d.values())))
        for q, d in votes.items()
    }
    got = get("knn_label_classify").spark_fn(spark, sf_correctness).collect()
    assert len(got) == queries.count()
    for r in got:
        assert 1 <= r.votes <= 10
        assert r.pred_label == want[r.query_id]
        assert r.votes == votes[r.query_id][r.pred_label]


def test_gemm_topk_matches_brute_force_exactly(spark, sf_correctness):
    """The GEMM path is the SAME operator as brute_force_topk, just
    vectorized: identical (query, neighbor, rank) triples, cosines
    equal to the fold-expression path within the 9-dp rounding grain —
    including under exact ties (duplicate vectors), which both paths
    break on neighbor_id."""
    from pyspark.sql import functions as F

    from tda596_lab02mapreduce_spark import io
    from tda596_lab02mapreduce_spark.operators.similarity import (
        brute_force_topk,
        gemm_topk,
    )

    emb = io.load(spark, sf_correctness, "embeddings")
    # inject an exact duplicate pair so the tiebreak path is exercised
    dup = emb.filter(F.col("vec_id") == 3).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(dup)
    queries = corpus.filter(F.col("vec_id") < 10)
    got = {
        (r.query_id, r.nbr_rank): (r.neighbor_id, round(r.cosine, 9))
        for r in gemm_topk(corpus, queries, k=7).collect()
    }
    exp = {
        (r.query_id, r.nbr_rank): (r.neighbor_id, round(r.cosine, 9))
        for r in brute_force_topk(corpus, queries, k=7).collect()
    }
    assert got == exp


def test_pq_refine_recall_floor(spark, sf_correctness):
    """PQ+refine must recover ≥0.85 of the exact-L2 top-5 pairs on the
    isotropic fixture (measured 0.94 — synthetic embeddings are PQ's
    worst case, which is exactly why the refine stage is part of the
    registered query), and the whole pipeline must be deterministic.
    The refine budget is the registered query's corpus-scaled
    max(50, 3·isqrt(n)) — the r15 ANN band measured the old fixed 50
    decaying to 0.64 at 10×; via SPARK_GRAFT_ANN_DIR this same floor
    runs against the staged corpus."""
    import numpy as np

    from tda596_lab02mapreduce_spark import io
    from tda596_lab02mapreduce_spark.operators import similarity as sim
    from tda596_lab02mapreduce_spark.queries.llm_pipeline import _pq_refine

    corpus_dir = _ann_dir(sf_correctness)
    emb = io.load(spark, corpus_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    model = sim.pq_fit(emb, m=16)
    # the REGISTERED query's budget helper — importing it (instead of
    # restating the formula) means a retune can't silently leave this
    # floor pinning a budget the serve no longer uses (r15 review)
    refine = _pq_refine(corpus_dir)
    got = {
        (r.query_id, r.neighbor_id)
        for r in sim.pq_topk(emb, queries, model=model, refine=refine).collect()
    }
    rows = emb.select("vec_id", F.col("embedding").cast("array<double>")).collect()
    ids = np.array([r[0] for r in rows])
    x = np.array([list(r[1]) for r in rows])
    truth = set()
    for q in range(10):
        qv = x[ids == q][0]
        d2 = ((x - qv) ** 2).sum(1)
        d2[ids == q] = np.inf
        order = np.lexsort((ids, d2))[:5]
        truth |= {(q, int(ids[i])) for i in order}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.85, f"PQ+refine recall@5 {recall}"
    again = {
        (r.query_id, r.neighbor_id)
        for r in sim.pq_topk(emb, queries, model=model, refine=refine).collect()
    }
    assert got == again, "PQ top-k not deterministic"


def test_ppjoin_prefix_filter_actually_prunes(spark, sf_correctness):
    """The PPJoin prefix filter must shrink the candidate space by an
    order of magnitude vs all-pairs — if every pair survives the
    prefix join, the 'filter' is decorative and the query is a brute
    force in disguise."""
    from tda596_lab02mapreduce_spark import registry

    q = registry.registry()["dedup_ppjoin_pairs"]
    out = q.spark_fn(spark, sf_correctness)
    n_docs = out.sparkSession.read.parquet(
        f"{sf_correctness}/documents.parquet"
    ).count()
    all_pairs = n_docs * (n_docs - 1) // 2
    # reconstruct the candidate stage: run the registered query's plan
    # up to verification by counting verified-pair INPUTS — the public
    # seam is the result itself, so bound instead: results must be few
    # and exact, and the runtime plan must contain no cartesian product
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, "PPJoin fell back to all-pairs"
    assert out.count() < all_pairs / 100, "no selectivity at t=0.5"
