"""MapReduce façade: the reference's exact generic contract —
``mapf(filename, contents) -> list[(key, value)]`` and
``reducef(key, values) -> value`` (mr/worker.go:36-37) — executed on
Spark.

Two implementations with identical semantics (property-tested equal):

- ``run_mapreduce``: RDD form — flatMap → groupByKey(n) → mapValues.
  The closest structural analogue of the reference pipeline
  (scan → flatMap → hash shuffle → group → reduce); Python rides the
  whole path, so this is the semantic-fidelity mode, not the fast path.
- ``run_mapreduce_df``: DataFrame form — mapInPandas (vectorized
  UDTF ≙ mapf) → groupBy(key).applyInPandas (full-list UDAF ≙
  reducef). Arrow-batched; preferred of the two. The grouping's own
  hash exchange is the shuffle, so AQE sizes the reduce side from the
  shuffle bytes instead of a fixed nReduce.

Both deliberately preserve the reference's full-list reduce semantics:
the UDAF sees EVERY value for its key materialized (no combiner, not
merge-based — SURVEY.md §4.2). That is inherently shuffle-heavy; real
queries should use algebraic Catalyst aggregates (the rest of the
query inventory). This façade exists for capability parity and for
apps whose reduce is genuinely holistic.

Key-domain caveat carried over from the reference (FIXTURES.md §1.2):
keys must not contain tab/newline when round-tripped through the text
sink format.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

MapF = Callable[[str, str], list[tuple[str, str]]]
ReduceF = Callable[[str, list[str]], str]

KV_SCHEMA = "key string, value string"


def run_mapreduce(
    spark: SparkSession,
    inputs: DataFrame,
    mapf: MapF,
    reducef: ReduceF,
    n_reduce: int = 10,
) -> DataFrame:
    """RDD-form MapReduce. ``inputs`` must have (filename, contents)
    string columns — one row per input file, mirroring the
    one-map-task-per-whole-file granularity (mr/coordinator.go:196-205)."""
    kv = inputs.rdd.flatMap(lambda row: mapf(row[0], row[1]))
    reduced = (
        kv.groupByKey(numPartitions=n_reduce)
        .map(lambda g: (g[0], reducef(g[0], list(g[1]))))
    )
    return spark.createDataFrame(reduced, schema=KV_SCHEMA)


def run_mapreduce_df(
    spark: SparkSession,
    inputs: DataFrame,
    mapf: MapF,
    reducef: ReduceF,
) -> DataFrame:
    """DataFrame/Arrow-form MapReduce (same contract, vectorized
    transport)."""

    def do_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys: list[str] = []
            vals: list[str] = []
            for fn, ct in zip(pdf["filename"], pdf["contents"]):
                for k, v in mapf(fn, ct):
                    keys.append(k)
                    vals.append(v)
            yield pd.DataFrame({"key": keys, "value": vals})

    def do_reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        k = pdf["key"].iloc[0]
        return pd.DataFrame({"key": [k], "value": [reducef(k, pdf["value"].tolist())]})

    kv = inputs.mapInPandas(do_map, schema=KV_SCHEMA)
    return kv.groupBy("key").applyInPandas(do_reduce, schema=KV_SCHEMA)


def save_text_kv(df: DataFrame, path: str) -> None:
    """Partitioned ``key value`` text sink — the reference's final
    output format (mr/worker.go:152), one part file per partition,
    atomic via Spark's FileOutputCommitter (≙ tmp+rename protocol,
    mr/coordinator.go:37-53)."""
    from pyspark.sql import functions as F

    df.select(F.concat_ws(" ", "key", "value").alias("value")).write.mode(
        "overwrite"
    ).text(path)
