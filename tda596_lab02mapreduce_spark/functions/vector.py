"""Vector math over ``array<float>`` embedding columns as pure SQL
expressions (``zip_with`` + ``aggregate``) — JVM-side, codegen'd, no
Python UDF in the hot path.

Everything is computed in DOUBLE: the fixture embeddings are float32,
and folding in float32 would drift from any float64 oracle
(SURVEY.md §7 risk (d)). ``aggregate`` folds left-to-right, so the
summation order is deterministic and bit-stable across partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EMBEDDING_DIM = 64  # width of the embeddings fixture's `embedding` column


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_sim(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
