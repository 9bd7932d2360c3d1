"""MR façade parity tests (SURVEY.md §7 phase 2): façade ≡ native
Catalyst query, plus the text-sink round-trip — the moral equivalent
of the reference's differential test against mrsequential
(main/test-mr.sh:81-111)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import apps, io, plans
from tda596_lab02mapreduce_spark.functions.text import tokens_nonempty
from tda596_lab02mapreduce_spark.mapreduce import run_mapreduce_df, save_text_kv


def _inputs(spark, sf_dir):
    """Each document acts as one input file (whole-file granularity)."""
    return io.load(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("filename"),
        F.col("text").alias("contents"),
    )


def _native_wc(spark, sf_dir):
    docs = io.load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens_nonempty("text")).alias("word"))
        .groupBy("word")
        .count()
    )


def test_wc_facade_matches_native(spark, sf_smoke):
    got = {
        (r.key, int(r.value))
        for r in run_mapreduce_df(
            spark, _inputs(spark, sf_smoke), apps.wc_map, apps.wc_reduce
        ).collect()
    }
    want = {(r.word, r["count"]) for r in _native_wc(spark, sf_smoke).collect()}
    assert got == want


def test_indexer_facade(spark, sf_smoke):
    inputs = _inputs(spark, sf_smoke).limit(50)
    out = run_mapreduce_df(spark, inputs, apps.indexer_map, apps.indexer_reduce)
    rows = {r.key: r.value for r in out.collect()}
    assert rows, "indexer produced nothing"
    # spot-check one word against a direct computation
    word, val = next(iter(sorted(rows.items())))
    n_docs, doc_list = val.split(" ", 1)
    docs = doc_list.split(",")
    assert int(n_docs) == len(docs) == len(set(docs))
    assert docs == sorted(docs), "posting list must be sorted"


def test_df_partition_invariance(spark, sf_smoke):
    """The façade has no reducer count of its own: its results
    must not depend on the input layout nor on the shuffle partition
    count the planner sizes the reduce side from."""
    inputs = _inputs(spark, sf_smoke)

    def run(df):
        return {
            (r.key, r.value)
            for r in run_mapreduce_df(spark, df, apps.wc_map, apps.wc_reduce).collect()
        }

    want = run(inputs.repartition(1))
    assert want
    assert run(inputs.repartition(16)) == want
    conf = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf)
    try:
        for n in ("1", "8"):
            spark.conf.set(conf, n)
            assert run(inputs) == want, f"{conf}={n}"
    finally:
        spark.conf.set(conf, old)


def test_df_facade_single_planner_sized_shuffle(spark, sf_smoke):
    """Exactly one shuffle between the map and the reduce UDFs, and it
    is the grouping's own ENSURE_REQUIREMENTS exchange — the origin AQE
    coalesces — not a fixed-count repartition AQE must leave alone."""
    df = run_mapreduce_df(
        spark, _inputs(spark, sf_smoke), apps.wc_map, apps.wc_reduce
    )
    tree = plans.final_plan(df)
    plan = plans.formatted_plan(df)
    reduce_at = re.search(r"FlatMapGroupsInPandas \(\d+\)", tree).start()
    map_at = re.search(r"(?<!\w)MapInPandas \(\d+\)", tree).start()
    assert reduce_at < map_at, tree
    assert plans.count_nodes(tree[reduce_at:map_at], "Exchange") == 1, tree
    assert "ENSURE_REQUIREMENTS" in plan, plan
    assert "REPARTITION_BY_NUM" not in plan, plan


def test_text_sink_roundtrip(spark, sf_smoke, tmp_path):
    out = run_mapreduce_df(
        spark, _inputs(spark, sf_smoke), apps.wc_map, apps.wc_reduce
    )
    path = str(tmp_path / "mr-out")
    save_text_kv(out, path)
    back = spark.read.text(path).select(
        F.split(F.col("value"), " ", 2)[0].alias("key"),
        F.split(F.col("value"), " ", 2)[1].alias("value"),
    )
    assert {(r.key, r.value) for r in back.collect()} == {
        (r.key, r.value) for r in out.collect()
    }
