"""``io``: fixture tables read through the session catalog, and
``io.widen_if_few_splits``, which widens a scan that has fewer splits
than the cluster has cores, using the split count Spark itself
planned."""

from __future__ import annotations

import hashlib
import os
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


def _catalog_name(sf_dir: str, name: str) -> str:
    path = f"{sf_dir}/{name}.parquet"
    return f"fixture_{name}_{hashlib.sha1(path.encode()).hexdigest()[:12]}"


def _location(spark, table: str) -> str:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return next(r.data_type for r in rows if r.col_name == "Location")


def _tree(root) -> list[tuple[str, int, int]]:
    return sorted(
        (os.path.join(d, f), st.st_size, st.st_mtime_ns)
        for d, _, files in os.walk(root)
        for f in files
        for st in [os.stat(os.path.join(d, f))]
    )


def test_repeat_load_plans_without_a_job(spark, sf_smoke):
    """Only the first load of a fixture in a session infers its schema:
    a later load and the physical planning of a filter over it read the
    catalog's stored schema and cached file listing, and run no job (a
    schema-less ``spark.read.parquet`` runs one footer-reading job on
    every call)."""
    io.load(spark, sf_smoke, "lineitem")
    sc = spark.sparkContext
    group = "test_io_repeat_load"
    sc.setJobGroup(group, "second load of a fixture table")
    try:
        li = io.load(spark, sf_smoke, "lineitem")
        li.filter(F.col("l_quantity") > 3)._jdf.queryExecution().executedPlan()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_each_sf_dir_keeps_its_own_schema(spark, sf_smoke, tmp_path):
    """Two sf dirs holding the same table name with different schemas
    resolve to two catalog tables, each with its own schema."""
    region = io.load(spark, sf_smoke, "region")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    region.write.parquet(f"{a}/region.parquet")
    region.withColumn("r_extra", F.lit(1)).write.parquet(f"{b}/region.parquet")
    for _ in range(2):  # first load creates the table, second reads it
        assert io.load(spark, a, "region").columns == region.columns
        assert io.load(spark, b, "region").columns == region.columns + ["r_extra"]
    assert io.load(spark, b, "region").filter("r_extra = 1").count() == 5


def test_fixture_table_is_external_at_the_fixture_path(spark, sf_smoke, tmp_path):
    """The catalog table is EXTERNAL, located at the fixture file, and
    creating and reading it writes nothing under the sf dir."""
    sf = str(tmp_path / "sf")
    io.load(spark, sf_smoke, "nation").write.parquet(f"{sf}/nation.parquet")
    before = _tree(sf)
    assert io.load(spark, sf, "nation").count() == 25
    name = _catalog_name(sf, "nation")
    assert spark.catalog.getTable(name).tableType == "EXTERNAL"
    assert _location(spark, name) == f"file:{sf}/nation.parquet"
    assert _tree(sf) == before
