"""Split-conformal semantics (statml.py:conformal_priority_coverage).

The hash gate proves cross-engine equality; these pin the STATISTICAL
contract a hash can't — the finite-sample marginal coverage guarantee
(coverage >= 1 - alpha on the test fold), the quantile definition
against an independent Python recompute, and non-degeneracy (the
prediction sets are not all-classes-always)."""

from __future__ import annotations

import hashlib
import math

from tda596_lab02mapreduce_spark import io
from tda596_lab02mapreduce_spark.queries.statml import (
    _logistic_train,
    conformal_mondrian_by_class,
    conformal_priority_coverage,
)


def _md5_32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_conformal_coverage_guarantee(spark, sf_correctness):
    row = conformal_priority_coverage(spark, sf_correctness).collect()[0]
    n_test, n_cov = int(row["n_test"]), int(row["n_covered"])
    # split-conformal marginal validity: P(y in set) >= 1 - alpha.
    # The guarantee is in expectation over splits; on this fixed fold
    # allow one-sigma slack below 0.9 (binomial sd ~ 0.004 at n~7500).
    assert n_cov / n_test >= 0.9 - 2 * math.sqrt(0.09 / n_test)
    # non-degenerate: sets are not all {0,1} (which would trivially
    # cover); average set size must be strictly below 2
    assert int(row["set_size_sum"]) < 2 * n_test
    # folds partition the orders table
    orders = io.load(spark, sf_correctness, "orders").count()
    assert int(row["n_cal"]) + n_test == orders


def test_conformal_mondrian_per_class_coverage(spark, sf_correctness):
    """The Mondrian guarantee: coverage >= 1 - alpha for EACH true
    class separately (the marginal twin only bounds the mixture).
    Also pins that the per-class quantiles genuinely differ from each
    other (the partition is non-vacuous) and that per-class test/cal
    counts partition the fixture."""
    rows = {
        int(r["y_class"]): r
        for r in conformal_mondrian_by_class(spark, sf_correctness).collect()
    }
    assert set(rows) == {0, 1}
    for y, r in rows.items():
        n_test, n_cov = int(r["n_test"]), int(r["n_covered"])
        # per-class finite-sample validity with one-sigma slack on the
        # fixed fold (the guarantee is in expectation over splits)
        assert n_cov / n_test >= 0.9 - 2 * math.sqrt(0.09 / n_test), y
        # non-degenerate: prediction sets are not all-classes-always
        assert int(r["set_size_sum"]) < 2 * n_test
    # the class split is real: different calibration quantiles
    assert rows[0]["q_nonconf"] != rows[1]["q_nonconf"]
    # folds + classes partition the orders table
    orders = io.load(spark, sf_correctness, "orders").count()
    total = sum(int(r["n_cal"]) + int(r["n_test"]) for r in rows.values())
    assert total == orders


def test_conformal_mondrian_small_class_predicts_all(spark, tmp_path):
    """A class with an undersized calibration fold (n_y < 9) must get
    q_y = +infinity — that class predicted for every test row and its
    own test rows 100% covered — via the per-class small-n contract,
    not a silent zero-coverage (the marginal twin's constructed-case
    test, per class)."""
    import datetime

    # class 1 (URGENT) rare: 5 of 60 rows -> its calibration half < 9
    rows = [
        (k, 50000.0 * (k % 7 + 1), datetime.datetime(2024, 1 + k % 12, 3),
         "1-URGENT" if k % 12 == 0 else "5-LOW")
        for k in range(60)
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    )
    df.write.parquet(str(tmp_path / "orders.parquet"))
    out = {
        int(r["y_class"]): r
        for r in conformal_mondrian_by_class(spark, str(tmp_path)).collect()
    }
    assert int(out[1]["n_cal"]) < 9
    assert out[1]["q_nonconf"] == float("inf")
    # every class-1 test row covered by its infinite quantile
    assert int(out[1]["n_covered"]) == int(out[1]["n_test"])
    # class 1 is in EVERY row's prediction set: set_size_sum for each
    # class group >= n_test of that group (the q1=inf membership term)
    for y in out:
        assert int(out[y]["set_size_sum"]) >= int(out[y]["n_test"])


def test_conformal_quantile_matches_python(spark, sf_correctness):
    """Recompute q = ceil(0.9*(n_cal+1))-th smallest calibration
    nonconformity in plain Python from the same trained weights."""
    feat, beta = _logistic_train(spark, sf_correctness)
    w = beta.collect()[0]
    orders = io.load(spark, sf_correctness, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority"
    ).collect()
    cal_s = []
    for r in orders:
        x1 = math.floor(r["o_totalprice"] / 50000)
        x2 = r["o_orderdate"].month
        y = 1 if r["o_orderpriority"] in ("1-URGENT", "2-HIGH") else 0
        if _md5_32(str(r["o_orderkey"])) % 2 != 0:
            continue
        z = (w["w0"] + w["w1"] * x1 + w["w2"] * x2) / 1000000.0
        p = 0.5 + 0.5 * (z / (1.0 + abs(z)))
        cal_s.append(1.0 - p if y == 1 else p)
    cal_s.sort()
    k = (9 * (len(cal_s) + 1) + 9) // 10
    expect_q = cal_s[k - 1]
    row = conformal_priority_coverage(spark, sf_correctness).collect()[0]
    assert row["q_nonconf"] == expect_q
    assert int(row["n_cal"]) == len(cal_s)


def test_conformal_small_calibration_predicts_all(spark, tmp_path):
    """k = ceil(0.9*(n_cal+1)) > n_cal whenever n_cal < 9: the conformal
    quantile is +infinity by contract — every class predicted, coverage
    100% — NOT the inverted zero-coverage an empty quantile row would
    silently produce (both engines would agree on the wrong answer, so
    only this constructed case can catch it)."""
    import datetime

    rows = [
        (k, 50000.0 * (k + 1), datetime.datetime(2024, 1 + k % 12, 3),
         "1-URGENT" if k % 3 == 0 else "5-LOW")
        for k in range(8)
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    )
    df.write.parquet(str(tmp_path / "orders.parquet"))
    out = conformal_priority_coverage(spark, str(tmp_path)).collect()[0]
    assert int(out["n_cal"]) < 9
    assert out["q_nonconf"] == float("inf")
    assert int(out["n_covered"]) == int(out["n_test"])  # 100% coverage
    assert int(out["set_size_sum"]) == 2 * int(out["n_test"])  # all classes
