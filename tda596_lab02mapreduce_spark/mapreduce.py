"""MapReduce façade: the reference's exact generic contract —
``mapf(filename, contents) -> list[(key, value)]`` and
``reducef(key, values) -> value`` (mr/worker.go:36-37) — executed on
Spark.

Implementation: mapInPandas (vectorized UDTF ≙ mapf) →
groupBy(key).applyInPandas (full-list UDAF ≙ reducef), Arrow-batched.
The grouping's own hash exchange is the shuffle, so AQE sizes the
reduce side from the shuffle bytes instead of a fixed nReduce. Its
results are tested equal to the native Catalyst word count
(tests/test_mapreduce.py).

It deliberately preserves the reference's full-list reduce semantics:
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


def run_mapreduce_df(
    spark: SparkSession,
    inputs: DataFrame,
    mapf: MapF,
    reducef: ReduceF,
) -> DataFrame:
    """MapReduce over ``inputs`` with (filename, contents) string
    columns — one row per input file, mirroring the
    one-map-task-per-whole-file granularity (mr/coordinator.go:196-205)."""

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
