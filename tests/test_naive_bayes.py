"""Naive Bayes non-degeneracy + exact-weight semantics
(operators/naive_bayes.py).

The hash gate (naive_bayes_lang_confusion vs the sidecar-replay
oracle) proves the SERVE is exact; these tests pin what a hash can't:
the quantized weights are the true Laplace-smoothed log-probabilities
(hand-computed on a toy corpus), the argmax tiebreak is the contracted
(score DESC, class ASC) total order, refitting reproduces the
committed sidecar bit-for-bit, and the fixture classification is a
real one (several classes actually predicted, scores vary)."""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import io, sidecars
from tda596_lab02mapreduce_spark.operators.naive_bayes import (
    _LAST_FIT_STATS,
    NB_TOP_V,
    naive_bayes_confusion,
    naive_bayes_fit,
)
from tda596_lab02mapreduce_spark.registry import get


def test_nb_toy_weights_exact(spark):
    """Hand-computed Laplace smoothing on a 3-doc toy corpus: vocabulary
    {a, b, c} (V=3); class x has tokens [a a b] (N=3), class y has
    [c] (N=1).  w_u(t, c) must be round(1e6*ln((cnt+1)/(N_c+V)))."""
    docs = spark.createDataFrame(
        [(1, "a a b", "x"), (2, "a", "x"), (3, "c", "y")],
        "doc_id int, text string, lang string",
    )
    m = naive_bayes_fit(docs)  # no dataset_key -> no sidecar I/O
    assert m["classes"] == ["x", "y"]
    assert m["vocab"] == ["a", "b", "c"]
    # class x: N=4 tokens (a,a,b,a), V=3 -> den 7; counts a=3, b=1, c=0
    assert m["weights_u"]["a"]["x"] == round(1e6 * math.log(4 / 7))
    assert m["weights_u"]["b"]["x"] == round(1e6 * math.log(2 / 7))
    assert m["weights_u"]["c"]["x"] == round(1e6 * math.log(1 / 7))
    # class y: N=1 token, den 4; counts c=1 others 0
    assert m["weights_u"]["c"]["y"] == round(1e6 * math.log(2 / 4))
    assert m["weights_u"]["a"]["y"] == round(1e6 * math.log(1 / 4))
    # priors: x has 2 docs of 3, y has 1 of 3
    assert m["priors_u"]["x"] == round(1e6 * math.log(2 / 3))
    assert m["priors_u"]["y"] == round(1e6 * math.log(1 / 3))


def test_nb_argmax_tiebreak_lexical(spark):
    """Two classes with IDENTICAL corpora score every doc identically —
    the argmax must resolve to the lexically smaller class for every
    document (the contracted total order), not an arbitrary one."""
    docs = spark.createDataFrame(
        [(1, "a b", "m"), (2, "a b", "z"), (3, "b a", "m"), (4, "b a", "z")],
        "doc_id int, text string, lang string",
    )
    m = naive_bayes_fit(docs)
    assert m["priors_u"]["m"] == m["priors_u"]["z"]
    out = naive_bayes_confusion(docs, m).collect()
    preds = {(r["true_lang"], r["pred_lang"]): r["n_docs"] for r in out}
    assert preds == {("m", "m"): 2, ("z", "m"): 2}


def _committed_nb(sf_dir: str, monkeypatch) -> dict:
    monkeypatch.delenv("SPARK_GRAFT_MODEL_DIR", raising=False)
    return sidecars.committed(
        "nb", (sf_dir, "text", "lang", NB_TOP_V), "stream_nb_classify"
    )


def test_nb_fixture_nondegenerate_and_deterministic(
    spark, sf_correctness, tmp_path, monkeypatch
):
    docs = io.load(spark, sf_correctness, "documents")
    model = _committed_nb(sf_correctness, monkeypatch)
    # refit must reproduce the committed sidecar bit-for-bit (published
    # into a throwaway dir, not .models/)
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path))
    refit = naive_bayes_fit(docs, dataset_key=sf_correctness, refit=True)
    assert refit == model
    out = naive_bayes_confusion(docs, model)
    rows = out.collect()
    n_total = sum(int(r["n_docs"]) for r in rows)
    assert n_total == docs.count()  # every doc classified exactly once
    predicted = {r["pred_lang"] for r in rows}
    assert len(predicted) >= 2  # a real decision, not one-class collapse
    # confusion matrix bounded by classes^2
    assert len(rows) <= len(model["classes"]) ** 2


def test_nb_vocab_cap_bounds_driver_traffic(
    spark, sf_correctness, tmp_path, monkeypatch
):
    """The r12-verdict #1 contract made code: the fit's vocabulary is
    the distributed top-V (V=24 < the 31-token fixture vocabulary, so
    the OOV path is exercised), and the driver receives EXACTLY V
    vocabulary rows and <= V*C count rows — never the full corpus
    vocabulary."""
    docs = io.load(spark, sf_correctness, "documents")
    committed = _committed_nb(sf_correctness, monkeypatch)
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path))
    model = naive_bayes_fit(docs, dataset_key=sf_correctness, refit=True)
    assert model == committed
    full_vocab = {
        r["t"]
        for r in docs.select(
            F.explode(F.split("text", " ")).alias("t")
        )
        .filter(F.length("t") > 0)
        .distinct()
        .collect()
    }
    assert model["top_v"] == NB_TOP_V == 24
    assert len(model["vocab"]) == NB_TOP_V
    assert len(full_vocab) > NB_TOP_V  # the cap actually bites
    assert set(model["vocab"]) < full_vocab
    assert "dup" not in model["vocab"]  # the known low-count token is OOV
    # driver-traffic contract, pinned on the REAL fit just executed
    C = len(model["classes"])
    assert _LAST_FIT_STATS["vocab_rows"] == NB_TOP_V
    assert _LAST_FIT_STATS["count_rows"] <= NB_TOP_V * C
    assert _LAST_FIT_STATS["class_rows"] == C
    assert len(model["weights_u"]) == NB_TOP_V


def test_nb_vocab_cap_tiebreak_deterministic(spark):
    """Tokens tied in count at the cap boundary resolve lexically
    (count DESC, token ASC) — the vocab_encode_topk discipline, so the
    fit is reproducible across partitionings and engines."""
    # 3 tokens all with count 2; cap V=2 must keep {'aa', 'bb'}
    docs = spark.createDataFrame(
        [(1, "aa bb cc", "x"), (2, "cc bb aa", "y")],
        "doc_id int, text string, lang string",
    )
    m = naive_bayes_fit(docs, top_v=2)
    assert m["vocab"] == ["aa", "bb"]
    # OOV denominator contract: N_c counts only in-vocab tokens
    # class x: tokens aa,bb in vocab -> N=2, V=2, den=4; cnt(aa,x)=1
    assert m["weights_u"]["aa"]["x"] == round(1e6 * math.log(2 / 4))


def test_nb_scores_unseen_token_drops_identically(spark):
    """A serve-time token outside the training vocabulary contributes
    nothing (inner-join drop) — the documented convention; a doc made
    ONLY of unseen tokens disappears from the output on both engines."""
    train = spark.createDataFrame(
        [(1, "a a", "x"), (2, "b", "y")],
        "doc_id int, text string, lang string",
    )
    m = naive_bayes_fit(train)
    serve = spark.createDataFrame(
        [(10, "a zzz", "x"), (11, "zzz qqq", "y")],
        "doc_id int, text string, lang string",
    )
    out = naive_bayes_confusion(serve, m).collect()
    preds = {(r["true_lang"], r["pred_lang"]): r["n_docs"] for r in out}
    assert preds == {("x", "x"): 1}  # doc 11 dropped, doc 10 scored on 'a'


def test_query_call_leaves_committed_sidecar_untouched(
    spark, sf_correctness, monkeypatch
):
    """naive_bayes_lang_confusion refits on every call but publishes
    nothing: the committed sidecar its oracle replays keeps its bytes
    and its mtime."""
    monkeypatch.delenv("SPARK_GRAFT_MODEL_DIR", raising=False)
    path = sidecars.path("nb", (sf_correctness, "text", "lang", NB_TOP_V))

    def snapshot():
        with open(path, "rb") as f:
            return os.stat(path).st_mtime_ns, f.read()

    before = snapshot()
    get("naive_bayes_lang_confusion").spark_fn(spark, sf_correctness).collect()
    assert snapshot() == before
