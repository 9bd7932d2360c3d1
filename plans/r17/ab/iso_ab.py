#!/usr/bin/env python
"""Isolated-JVM A/B for the three r16-touched driver regressions
(VERDICT r16 next-round #1). One invocation = one fresh JVM = one
variant of one query, timed with bench.py's exact protocol (untimed
warm-up + min of BENCH_REPS timed noop-sink executions).

Usage: python iso_ab.py <variant>
Variants:
  pr_exckpt   pagerank_neardup_hubs, r16 shape (ex AND exr checkpointed)
  pr_noex     pagerank, ex checkpoint dropped (exr kept)
  lpa_r16     community_label_propagation, r16 shape (no .distinct())
  lpa_dist    LPA with .distinct() restored before the ck groupBy
  hits_ckpt   hits_copurchase_bipartite, r16 shape (edge ckpt)
  hits_nockpt hits without the deduped-edge localCheckpoint
"""
import os, sys, time

sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F
from tda596_lab02mapreduce_spark import io
from tda596_lab02mapreduce_spark.functions.text import (
    ngram_shingles,
    tokens_nonempty,
)
from tda596_lab02mapreduce_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("BENCH_REPS", "2"))
variant = sys.argv[1]

spark = get_spark(app_name=f"iso-ab-{variant}")
spark.range(1000).selectExpr("sum(id)").collect()


def pagerank_q(ex_ckpt: bool):
    from tda596_lab02mapreduce_spark.operators.pagerank import pagerank

    docs = io.load(spark, SF, "documents")
    toked = docs.select(
        "doc_id", tokens_nonempty(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 3)
    ex = toked.select(
        "doc_id",
        F.explode(F.array_distinct(ngram_shingles(F.col("toks"), 3))).alias(
            "shingle"
        ),
    )
    if ex_ckpt:
        ex = ex.localCheckpoint(eager=False)
    rare = (
        ex.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 50)
        .select("shingle")
    )
    exr = ex.join(rare, "shingle").localCheckpoint(eager=False)
    pairs = (
        exr.alias("a")
        .join(
            exr.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    return pagerank(pairs, "id_a", "id_b", id_out="doc_id")


def lpa_q(use_distinct: bool):
    rounds = 4
    orders = io.load(spark, SF, "orders").select("o_orderkey", "o_custkey")
    li = io.load(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    cb = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk")
    )
    if use_distinct:
        cb = cb.distinct()
    per_cust = cb.groupBy("ck").agg(
        F.slice(F.array_sort(F.collect_set("pk")), 1, 128).alias("pks")
    )
    capped = per_cust.select("ck", F.explode("pks").alias("pk"))
    capped = capped.repartition("ck").localCheckpoint(eager=False)
    pc = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.ck") == F.col("b.ck")) & (F.col("a.pk") < F.col("b.pk")),
        )
        .groupBy(F.col("a.pk").alias("pa"), F.col("b.pk").alias("pb"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 5)
    )
    e = (
        pc.selectExpr("pa AS src", "pb AS dst")
        .unionAll(pc.selectExpr("pb AS src", "pa AS dst"))
        .repartition("src")
        .persist()
    )
    lab = e.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("lbl")
    ).localCheckpoint()
    for _ in range(rounds):
        lab = (
            e.join(lab.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst"), F.col("lbl"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy(F.col("dst").alias("id"))
            .agg(F.expr("max_by(lbl, struct(cnt, -lbl))").alias("lbl"))
            .localCheckpoint()
        )
    e.unpersist()
    sizes = lab.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("community_size")
    )
    return lab.join(sizes, "lbl").select(
        F.col("id").alias("part_id"),
        F.col("lbl").alias("community"),
        "community_size",
    )


def hits_q(ckpt: bool):
    _UNIT = 1_000_000
    norm = f"CAST((CAST({_UNIT} AS DECIMAL(38,0)) * s) div m AS BIGINT)"
    orders = io.load(spark, SF, "orders").select("o_orderkey", "o_custkey")
    li = io.load(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    edges = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    e = edges.select("src", "dst").distinct()
    if ckpt:
        e = e.localCheckpoint(eager=False)
    e_src = e.repartition("src").persist()
    e_dst = e.repartition("dst").persist()
    hub = e_src.select("src").distinct().select(
        "src", F.lit(_UNIT).cast("bigint").alias("hu")
    ).localCheckpoint()
    auth = None
    iters, checkpoint_every = 5, 2
    for it in range(iters):
        a_raw = (
            e_src.join(hub, "src")
            .groupBy("dst")
            .agg(F.sum("hu").alias("s"))
            .localCheckpoint(eager=False)
        )
        a_max = a_raw.agg(F.max("s").alias("m"))
        auth = a_raw.crossJoin(F.broadcast(a_max)).select(
            "dst", F.expr(norm).alias("au")
        )
        h_raw = (
            e_dst.join(auth.withColumnRenamed("au", "hu"), "dst")
            .groupBy("src")
            .agg(F.sum("hu").alias("s"))
            .localCheckpoint(eager=False)
        )
        h_max = h_raw.agg(F.max("s").alias("m"))
        hub = h_raw.crossJoin(F.broadcast(h_max)).select(
            "src", F.expr(norm).alias("hu")
        )
        if checkpoint_every and it != iters - 1 and (
            it % checkpoint_every == checkpoint_every - 1
        ):
            hub = hub.localCheckpoint()
    e_src.unpersist()
    e_dst.unpersist()
    return hub.select(
        F.lit("hub").alias("node_type"),
        F.col("src").alias("node_id"),
        F.col("hu").cast("bigint").alias("score_u"),
    ).unionByName(
        auth.select(
            F.lit("auth").alias("node_type"),
            F.col("dst").alias("node_id"),
            F.col("au").cast("bigint").alias("score_u"),
        )
    )


BUILDERS = {
    "pr_exckpt": lambda: pagerank_q(True),
    "pr_noex": lambda: pagerank_q(False),
    "lpa_r16": lambda: lpa_q(False),
    "lpa_dist": lambda: lpa_q(True),
    "hits_ckpt": lambda: hits_q(True),
    "hits_nockpt": lambda: hits_q(False),
}

fn = BUILDERS[variant]
spark.sparkContext.setJobDescription(f"warmup:{variant}")
fn().write.mode("overwrite").format("noop").save()
best = float("inf")
for r in range(REPS):
    spark.sparkContext.setJobDescription(f"timed:{variant}:{r}")
    t0 = time.perf_counter()
    fn().write.mode("overwrite").format("noop").save()
    best = min(best, time.perf_counter() - t0)
print(f"RESULT {variant} {best:.3f}")
