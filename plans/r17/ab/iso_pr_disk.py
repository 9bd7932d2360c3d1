import os, sys, time
sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from tda596_lab02mapreduce_spark import io
from tda596_lab02mapreduce_spark.functions.text import ngram_shingles, tokens_nonempty
from tda596_lab02mapreduce_spark.session import get_spark

SF = "/root/testdata/sf0.1"
variant = sys.argv[1]  # heap | disk
spark = get_spark(app_name=f"iso-pr-{variant}")
spark.range(1000).selectExpr("sum(id)").collect()
lvl = StorageLevel.DISK_ONLY if variant == "disk" else None

def q():
    from tda596_lab02mapreduce_spark.operators.pagerank import pagerank
    docs = io.load(spark, SF, "documents")
    toked = docs.select("doc_id", tokens_nonempty(F.col("text")).alias("toks")).filter(F.size("toks") >= 3)
    ex = toked.select("doc_id", F.explode(F.array_distinct(ngram_shingles(F.col("toks"), 3))).alias("shingle"))
    ex = ex.localCheckpoint(eager=False, storageLevel=lvl)
    rare = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") <= 50).select("shingle")
    exr = ex.join(rare, "shingle").localCheckpoint(eager=False, storageLevel=lvl)
    pairs = (exr.alias("a").join(exr.alias("b"),
        (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared")).filter(F.col("n_shared") >= 2))
    return pagerank(pairs, "id_a", "id_b", id_out="doc_id")

q().write.mode("overwrite").format("noop").save()
best = float("inf")
for _ in range(2):
    t0 = time.perf_counter()
    q().write.mode("overwrite").format("noop").save()
    best = min(best, time.perf_counter() - t0)
print(f"RESULT pr_{variant} {best:.3f}")
