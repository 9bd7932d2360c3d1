"""Flagship: corpus word count — the reference's de-facto benchmark
workload (``mrapps/wc.go``), rebuilt as scan → split → explode →
filter → groupBy.count.

Reference pipeline (SURVEY.md §2A A17+A18): one ``(word, "1")`` KV per
occurrence, hash-shuffle of ~624k records, sort-group, ``len(values)``.
Spark plan: Catalyst plans partial+final HashAggregate automatically,
so the shuffle carries one ``(word, partial_count)`` per distinct word
per partition — the map-side combine the reference lacks
(``mr/worker.go:69-97`` ships every occurrence). At 100 TB that
difference is the whole ballgame: shuffle volume is O(distinct words ×
partitions), not O(token occurrences).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import io
from tda596_lab02mapreduce_spark.functions.text import tokens_nonempty
from tda596_lab02mapreduce_spark.registry import register

_ORACLE = r"""
SELECT word, CAST(count(*) AS BIGINT) AS cnt
FROM (
  SELECT unnest(string_split_regex(text, '[^\p{L}]+')) AS word
  FROM documents
) t
WHERE word <> ''
GROUP BY word
"""


@register(
    "wordcount",
    oracle=_ORACLE,
    doc="Case-sensitive word count over documents.text, exact wc.go tokenizer semantics.",
    tags=("flagship", "agg", "text"),
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No widen_if_few_splits here (unlike inverted_index/TF-IDF):
    # tokenize+explode+partial-count is too cheap per row for the
    # widening shuffle of full text rows to pay for itself — measured
    # at sf0.1: 0.37 s narrow vs 0.68 s widened (BASELINE.md). At
    # cluster scale the scan is many-split and the question is moot.
    docs = io.load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens_nonempty("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_INDEX_ORACLE = r"""
SELECT word,
       CAST(count(*) AS BIGINT) AS n_postings,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       list_aggregate(list_sort(list(DISTINCT doc_id)), 'string_agg', ',') AS doc_list
FROM (
  SELECT doc_id, unnest(string_split_regex(text, '[^\p{L}]+')) AS word
  FROM documents
) t
WHERE word <> ''
GROUP BY word
"""


@register(
    "inverted_index",
    oracle=_INDEX_ORACLE,
    doc=(
        "Inverted index: word -> occurrence count + sorted distinct posting list. "
        "The reference's missing indexer.go app (main/test-mr.sh:64,121-142) reborn; "
        "posting list rendered as a comma-joined string so the value-hash is "
        "representation-stable across engines."
    ),
    tags=("agg", "text"),
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No widening: like wordcount, the tokenize+explode+partial-agg is
    # too cheap per row for a full-text-row shuffle to pay for itself
    # (sf0.1 best-of-3: 0.37 s narrow vs 0.72 s widened).
    docs = io.load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(tokens_nonempty("text")).alias("word"))
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.array_join(F.array_sort(F.collect_set("doc_id")), ",").alias("doc_list"),
        )
    )


_MR_ORACLE = r"""
SELECT word AS key, CAST(CAST(count(*) AS BIGINT) AS VARCHAR) AS value
FROM (
  SELECT unnest(string_split_regex(text, '[^\p{L}]+')) AS word
  FROM documents
) t
WHERE word <> ''
GROUP BY word
"""


@register(
    "mapreduce_wordcount",
    oracle=_MR_ORACLE,
    doc=(
        "Word count through the generic MapReduce façade (mapreduce.py): the "
        "reference's EXACT mapf/reducef plugin contract (mr/worker.go:36-37, "
        "mrapps/wc.go) run as mapInPandas → groupBy(key).applyInPandas "
        "with full-list reduce semantics, untyped string KV output and all. "
        "Oracle-checked equal to the tokenizer SQL — proving the façade, the "
        "Python tokenizer (apps.py), and the Catalyst-native wordcount query "
        "all agree. Semantic-fidelity mode: real queries use the algebraic "
        "wordcount; this entry exists for capability parity with the engine "
        "being replaced."
    ),
    tags=("flagship", "mapreduce", "udf"),
)
def mapreduce_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark import apps, mapreduce

    docs = io.load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("filename"),
        F.col("text").alias("contents"),
    )
    return mapreduce.run_mapreduce_df(spark, docs, apps.wc_map, apps.wc_reduce)
