"""Sidecar integrity spot-checks (VERDICT r16 next-round #8).

The kmeans / pca / IVF / PQ serve queries read committed `.models/`
sidecars keyed on the fixture dir (fit-once/serve-many, documented in
their registrations). That contract is only honest while the committed
sidecar EQUALS what a refit from the fixture produces — a stale
sidecar once slipped through in r15. Each test here refits the model
from the sf0.001 fixture (into a THROWAWAY model dir, so the committed
sidecar is never rewritten by the test) and asserts field-for-field
equality with the committed artifact. NB already self-checks via
``refit=True`` in its own tests; these four extend the spot-check to
the remaining sidecar families. Each test first asserts that the
committed sidecar for its exact parameter key is on disk: a missing one
would otherwise be fitted and written into the tree by the "committed"
load, leaving the equality vacuous.
"""

from __future__ import annotations

import os

import pytest

SF = "/root/testdata/sf0.001"


def _assert_committed(path: str) -> None:
    assert os.path.isfile(path), f"committed sidecar missing: {path}"


@pytest.fixture
def tmp_model_dir(tmp_path, monkeypatch):
    """Redirect sidecar writes of the refit to a throwaway dir AFTER
    the committed model has been loaded (the committed load happens
    inside each test before this is applied via ``redirect``). Until
    then the default, committed ``.models/`` dir is in force."""
    monkeypatch.delenv("SPARK_GRAFT_MODEL_DIR", raising=False)

    def redirect():
        monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path))

    return redirect


def test_kmeans_sidecar_matches_refit(spark, tmp_model_dir):
    from tda596_lab02mapreduce_spark import io
    from tda596_lab02mapreduce_spark.operators import kmeans as km

    _assert_committed(km._sidecar_path((SF, "embedding", 64, 8, 4)))
    emb = io.load(spark, SF, "embeddings")
    committed = km.kmeans_fit(emb, dataset_key=SF)
    tmp_model_dir()
    km._KMEANS_MODEL_CACHE.clear()
    refit = km.kmeans_fit(emb, dataset_key=SF, refit=True)
    assert refit == committed
    km._KMEANS_MODEL_CACHE.clear()


def test_pca_sidecar_matches_refit(spark, tmp_model_dir):
    from tda596_lab02mapreduce_spark import io
    from tda596_lab02mapreduce_spark.operators import pca as pc

    _assert_committed(pc._sidecar_path((SF, "embedding", 64, 8)))
    emb = io.load(spark, SF, "embeddings")
    committed = pc.pca_fit(emb, dataset_key=SF)
    tmp_model_dir()
    pc._PCA_MODEL_CACHE.clear()
    refit = pc.pca_fit(emb, dataset_key=SF, refit=True)
    assert refit == committed
    pc._PCA_MODEL_CACHE.clear()


def test_ivf_sidecar_matches_refit(spark, tmp_model_dir):
    from tda596_lab02mapreduce_spark import io
    from tda596_lab02mapreduce_spark.operators import similarity as sim

    _assert_committed(
        sim._sidecar_path("ivf", (SF, "embedding", "vec_id", 8, 3, 0.2))
    )
    emb = io.load(spark, SF, "embeddings")
    committed = sim.ivf_fit(
        emb, n_cells=8, kmeans_iters=3, train_fraction=0.2, dataset_key=SF
    )
    tmp_model_dir()
    sim._IVF_MODEL_CACHE.clear()
    refit = sim.ivf_fit(
        emb,
        n_cells=8,
        kmeans_iters=3,
        train_fraction=0.2,
        dataset_key=SF,
        refit=True,
    )
    assert [list(map(float, c)) for _, c in refit] == [
        list(map(float, c)) for _, c in committed
    ]
    assert [c for c, _ in refit] == [c for c, _ in committed]
    sim._IVF_MODEL_CACHE.clear()


def test_pq_sidecar_matches_refit(spark, tmp_model_dir):
    from tda596_lab02mapreduce_spark import io
    from tda596_lab02mapreduce_spark.operators import similarity as sim

    _assert_committed(
        sim._sidecar_path("pq", (SF, "embedding", "vec_id", 16, 16, 8, 4096))
    )
    emb = io.load(spark, SF, "embeddings")
    committed = sim.pq_fit(
        emb, m=16, k=16, iters=8, n_train=4096, dataset_key=SF
    )
    tmp_model_dir()
    sim._PQ_MODEL_CACHE.clear()
    refit = sim.pq_fit(
        emb, m=16, k=16, iters=8, n_train=4096, dataset_key=SF, refit=True
    )
    assert refit == committed
    sim._PQ_MODEL_CACHE.clear()
