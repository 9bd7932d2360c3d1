"""Lloyd's k-means non-degeneracy + determinism (operators/kmeans.py).

The hash gate (embedding_kmeans_assign vs the sidecar-replay oracle)
proves the SERVE is exact; these tests pin what a hash can't — that
the fit produced a real clustering (more than one cluster, no cluster
swallowing everything, distances actually minimal) and that refitting
reproduces the committed model bit-for-bit (integer arithmetic end to
end, so there is nothing nondeterministic to drift).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import io, sidecars
from tda596_lab02mapreduce_spark.operators.kmeans import (
    kmeans_assign,
    kmeans_fit,
)


def test_trunc_div_exact_beyond_double_precision():
    """The centroid update must divide EXACTLY at any magnitude.
    float `/` before trunc (the r11 form) rounds the quotient once
    |sum| > 2^53 — these synthetic sums pin the failure and the fix."""
    from tda596_lab02mapreduce_spark.operators.kmeans import _trunc_div

    # s = n*q + r with |s| >> 2^53: float division lands on the wrong
    # integer for at least one of these; exact int division cannot.
    cases = [
        ((1 << 60) + 1, 3),
        ((1 << 60) - 1, 7),
        (-((1 << 60) + 1), 3),
        ((1 << 62) + (1 << 20) + 1, (1 << 20) + 3),
        (-((1 << 62) + 12345), 997),
        (10**18 + 1, 10**9),
    ]
    for s, n in cases:
        q = _trunc_div(s, n)
        # exact trunc semantics: |q| = |s| // n, sign follows s
        assert abs(q) == abs(s) // n, (s, n)
        assert q == 0 or (q > 0) == (s > 0), (s, n)
    # teeth: a case where the OLD float-division form is provably wrong —
    # float(2^53 + 1) rounds to 2^53 (odd integers above 2^53 are not
    # representable), so trunc(s / 1) loses the +1; exact division keeps it
    s = (1 << 53) + 1
    assert int(int(s) / 1) == (1 << 53)  # the r11 bug, pinned
    assert _trunc_div(s, 1) == s  # the fix


def test_kmeans_nondegenerate_and_deterministic(
    spark, sf_correctness, tmp_path, monkeypatch
):
    emb = io.load(spark, sf_correctness, "embeddings")
    n = emb.count()
    monkeypatch.delenv("SPARK_GRAFT_MODEL_DIR", raising=False)
    model = sidecars.committed(
        "kmeans",
        (sf_correctness, "embedding", 64, 8, 4),
        "embedding_kmeans_assign",
    )
    assigned = kmeans_assign(emb, model)
    sizes = {
        int(r["cluster"]): int(r["n"])
        for r in assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # a real clustering: >1 cluster, and none holds (almost) everything
    assert len(sizes) > 1
    assert max(sizes.values()) < n
    assert sum(sizes.values()) == n
    # integer fit is deterministic: refit reproduces the committed
    # sidecar exactly (published into a throwaway dir, not .models/)
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path))
    refit = kmeans_fit(emb, dataset_key=sf_correctness, refit=True)
    assert refit["centroids_q"] == model["centroids_q"]


def test_kmeans_assignment_is_argmin(spark, sf_smoke):
    """Every row's reported dist2_q equals the true minimum over the
    model's centroids, and the cluster achieves it (first-index
    tiebreak)."""
    emb = io.load(spark, sf_smoke, "embeddings").limit(50)
    model = kmeans_fit(emb, k=4, rounds=2)
    rows = {r["vec_id"]: r for r in kmeans_assign(emb, model).collect()}
    data = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    import math

    for vid, vec in data.items():
        xq = [math.floor(float(x) * (1 << 20)) for x in vec]
        dists = [
            sum((a - b) * (a - b) for a, b in zip(xq, c))
            for c in model["centroids_q"]
        ]
        best = min(dists)
        assert rows[vid]["dist2_q"] == best
        assert rows[vid]["cluster"] == dists.index(best) + 1
