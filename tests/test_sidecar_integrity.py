"""Sidecar-store checks for the five fit-once models (kmeans, PCA, IVF,
PQ, naive Bayes), one parametrized test per property.

The serve queries read committed `.models/` sidecars keyed on the
fixture dir (fit-once/serve-many, documented in their registrations).
That contract is only honest while the committed sidecar EQUALS what a
refit from the fixture produces — a stale sidecar once slipped through
in r15. ``test_committed_sidecar_matches_refit`` refits each model from
the sf0.001 fixture (into a THROWAWAY model dir, so the committed
sidecar is never rewritten) and asserts equality with the committed
artifact, after first asserting that the committed sidecar for the
exact parameter key is on disk: a missing one would otherwise be
fitted and written into the tree by the "committed" load, leaving the
equality vacuous. ``test_dataset_key_spelling_shares_one_sidecar``
pins that every spelling of one dataset dir names one sidecar.
"""

from __future__ import annotations

import os

import pytest

from tda596_lab02mapreduce_spark import io, sidecars
from tda596_lab02mapreduce_spark.operators import kmeans as km
from tda596_lab02mapreduce_spark.operators import naive_bayes as nb
from tda596_lab02mapreduce_spark.operators import pca as pc
from tda596_lab02mapreduce_spark.operators import similarity as sim

SF = "/root/testdata/sf0.001"


def _emb(spark, sf):
    return io.load(spark, sf, "embeddings")


# kind -> (fit at the serve query's parameters, the key it stores under)
FITS = {
    "kmeans": (
        lambda spark, sf, refit: km.kmeans_fit(
            _emb(spark, sf), dataset_key=sf, refit=refit
        ),
        (SF, "embedding", 64, 8, 4),
    ),
    "pca": (
        lambda spark, sf, refit: pc.pca_fit(
            _emb(spark, sf), dataset_key=sf, refit=refit
        ),
        (SF, "embedding", 64, 8),
    ),
    "ivf": (
        lambda spark, sf, refit: sim.ivf_fit(
            _emb(spark, sf),
            n_cells=8,
            kmeans_iters=3,
            train_fraction=0.2,
            dataset_key=sf,
            refit=refit,
        ),
        (SF, "embedding", "vec_id", 8, 3, 0.2),
    ),
    "pq": (
        lambda spark, sf, refit: sim.pq_fit(
            _emb(spark, sf),
            m=16,
            dataset_key=sf,
            refit=refit,
        ),
        (SF, "embedding", "vec_id", 16, 16, 8, 4096),
    ),
    "nb": (
        lambda spark, sf, refit: nb.naive_bayes_fit(
            io.load(spark, sf, "documents"), dataset_key=sf, refit=refit
        ),
        (SF, "text", "lang", nb.NB_TOP_V),
    ),
}


@pytest.mark.parametrize("kind", sorted(FITS))
def test_committed_sidecar_matches_refit(spark, kind, tmp_path, monkeypatch):
    fit, key = FITS[kind]
    monkeypatch.delenv("SPARK_GRAFT_MODEL_DIR", raising=False)
    path = sidecars.path(kind, key)
    assert os.path.isfile(path), f"committed sidecar missing: {path}"
    committed = fit(spark, SF, False)
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path))
    assert fit(spark, SF, True) == committed


@pytest.mark.parametrize("kind", sorted(FITS))
def test_dataset_key_spelling_shares_one_sidecar(
    spark, kind, tmp_path, monkeypatch
):
    """A trailing-slash SPARK_GRAFT_SF_DIR must find the sidecar the
    plain spelling published, not fit and write a second one."""
    fit, _ = FITS[kind]
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path))
    first = fit(spark, SF, False)
    second = fit(spark, SF + "/", False)
    assert [p.name for p in tmp_path.iterdir()] == [
        os.path.basename(sidecars.path(kind, FITS[kind][1]))
    ]
    assert second == first
