"""``io.widen_if_few_splits``: widen a scan that has fewer splits than
the cluster has cores, using the split count Spark itself planned."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import io


def _widen_exchanges(df, key: str) -> list[str]:
    """The partition counts of every ``repartition(n, key)`` exchange in
    the (not yet executed) physical plan."""
    plan = str(df._jdf.queryExecution().executedPlan())
    return re.findall(
        rf"hashpartitioning\({key}#\d+L?, (\d+)\), REPARTITION_BY_NUM", plan
    )


def test_single_file_scan_widens_on_key(spark, sf_smoke):
    li = io.load(spark, sf_smoke, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1999-06-30").cast("timestamp")
    )
    widened = io.widen_if_few_splits(li, "l_orderkey")
    par = spark.sparkContext.defaultParallelism
    assert _widen_exchanges(widened, "l_orderkey") == [str(par)]


def test_split_count_follows_spark_split_confs(spark, sf_smoke, tmp_path):
    """Eight files normally scan as one split each; ``maxPartitionNum``
    makes Spark pack them into one task, and that one-task scan must be
    widened. A Python re-derivation of the split math that ignored this
    conf saw eight splits and left the scan narrow."""
    path = str(tmp_path / "orders_x8")
    io.load(spark, sf_smoke, "orders").repartition(8).write.parquet(path)
    conf = "spark.sql.files.maxPartitionNum"
    spark.conf.set(conf, "1")
    try:
        orders = spark.read.parquet(path)
        assert orders.rdd.getNumPartitions() == 1
        widened = io.widen_if_few_splits(orders, "o_orderkey")
        assert widened is not orders
        par = spark.sparkContext.defaultParallelism
        assert _widen_exchanges(widened, "o_orderkey") == [str(par)]
    finally:
        spark.conf.unset(conf)


def test_no_widen_bypass_returns_the_same_frame(spark, sf_smoke, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_NO_WIDEN", "1")
    docs = io.load(spark, sf_smoke, "documents")
    assert io.widen_if_few_splits(docs, "doc_id") is docs
