"""Fixed-round driver (operators/rounds.py): the checkpoint cadence
must not change results, and the returned frame's plan must start at
a checkpoint."""

from __future__ import annotations

from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import plans
from tda596_lab02mapreduce_spark.operators.rounds import fixed_rounds


def _collatz_rounds(spark, every):
    """Seven Collatz steps per number; the step regroups on a derived
    key, so each round carries its own shuffle."""
    state = spark.range(1, 41).select(F.col("id").alias("n"), F.col("id").alias("x"))

    def step(df):
        return (
            df.select(
                "n",
                F.when(F.col("x") % 2 == 0, F.col("x") / 2)
                .otherwise(3 * F.col("x") + 1)
                .cast("bigint")
                .alias("x"),
            )
            .groupBy("n")
            .agg(F.max("x").alias("x"))
        )

    return fixed_rounds(state, step, 7, every=every)


def test_cadence_does_not_change_rows(spark):
    every_round = sorted(tuple(r) for r in _collatz_rounds(spark, 1).collect())
    every_third = sorted(tuple(r) for r in _collatz_rounds(spark, 3).collect())
    assert every_round == every_third

    def collatz7(x):
        for _ in range(7):
            x = x // 2 if x % 2 == 0 else 3 * x + 1
        return x

    assert every_round == [(n, collatz7(n)) for n in range(1, 41)]


def test_lineage_cut_after_last_round(spark):
    out = _collatz_rounds(spark, 3)
    tree = plans.final_plan(out)
    assert plans.count_nodes(tree, "Exchange") == 0, tree
