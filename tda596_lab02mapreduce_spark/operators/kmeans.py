"""Distributed fixed-round Lloyd's k-means with an integer-quantized
centroid sidecar (VERDICT r10 next-round #3).

The repo's model discipline (operators/similarity.py, operators/
pca.py): FIT persists a committed JSON sidecar under ``.models/``;
SERVE is deterministic arithmetic GIVEN the model, hash-checked
against a DuckDB oracle that embeds the same sidecar as a literal
table.  K-means follows the PCA improvement — everything integer:

- Vectors quantize ONCE to xq = floor(x * 2^20) (exact for float32
  inputs, the JL/PCA power-of-two scale).
- Distances are exact BIGINT sums of (xq - cq)^2 over 64 dims
  (≤ 64 * (2^21)^2 ≈ 2^48 — no overflow, no float compare).
- Assignment is argmin with a (dist, centroid-id) tiebreak — total
  order, deterministic in both engines.
- The centroid UPDATE is per-dim integer sums + one truncating
  integer division per (cluster, dim), computed driver-side on the
  k × dim collected sums (k*64 numbers — a model, not data).

So unlike IVF (whose quantizer fits driver-side on a bounded sample,
similarity.py:235 — the contract the r10 verdict asked to upgrade),
the Lloyd's fit here is DISTRIBUTED: each round is one scan of the
cached quantized corpus computing 64 JVM fold-expression distances +
one k-row-bound aggregate; only (k, dim)-sized summaries ever reach
the driver.  At 100 TB: per round = 1 map stage + 1
map-side-combinable aggregate of k*dim numbers; the serve is
MAP-ONLY (no shuffle at all — the broadcast-centroid argmin is k
fold expressions per row).

Reference parity: the reference engine (wc.go/indexer.go MapReduce)
has no clustering; this extends SURVEY.md §2C's similarity band.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import sidecars
from tda596_lab02mapreduce_spark.functions.vector import EMBEDDING_DIM

_Q_SCALE = 1 << 20
# embedding_kmeans_assign's model shape, shared by kmeans_fit's defaults
# and the DuckDB replay (kmeans_oracle_sql)
KMEANS_K = 8
KMEANS_ROUNDS = 4


def _trunc_div(s: int, n: int) -> int:
    """Exact truncating (toward-zero) integer division on Python ints.

    Python's ``/`` is IEEE double division — for |s| > 2^53 the quotient
    rounds before trunc and the "everything integer" fit contract breaks.
    Floor-div on the absolute value with the sign re-applied is exact at
    any magnitude and matches C/Go/SQL integer-division semantics.
    """
    q = abs(s) // n
    return q if s >= 0 else -q


def _xq() -> Column:
    return F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * _Q_SCALE).cast("long"),
    )


def _dist2(xq_col: Column, centroid_q: list[int]) -> Column:
    """Exact BIGINT squared distance of a quantized vector column to
    one integer centroid — a JVM fold expression (whole-stage codegen,
    no UDF, no explode)."""
    c = F.lit(centroid_q).cast("array<bigint>")
    return F.aggregate(
        F.zip_with(xq_col, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def kmeans_fit(
    corpus: DataFrame,
    *,
    k: int = KMEANS_K,
    rounds: int = KMEANS_ROUNDS,
    dataset_key: str | None = None,
    refit: bool = False,
) -> dict:
    """Fit (or fetch) fixed-``rounds`` Lloyd's k-means. Returns
    ``{"centroids_q": [k][dim ints], "k": k, "rounds": rounds}``.
    Seeds are the ``k`` lowest-``vec_id`` vectors (deterministic —
    the IVF seeding contract, but the ITERATION is distributed).
    Empty clusters keep their previous centroid (the standard Lloyd's
    convention that avoids collapse)."""
    dim = EMBEDDING_DIM
    key = (dataset_key, "embedding", dim, k, rounds)
    if dataset_key is not None and not refit:
        model = sidecars.load("kmeans", key)
        if model is not None:
            return model

    q = corpus.select(F.col("vec_id").alias("__id"), _xq().alias("xq"))
    q = q.localCheckpoint(eager=False)
    seed_rows = q.orderBy("__id").limit(k).collect()  # k rows, a model seed
    cents = [[int(v) for v in r["xq"]] for r in seed_rows]
    for _ in range(rounds):
        dists = [_dist2(F.col("xq"), cents[j]).alias(f"d{j}") for j in range(k)]
        assigned = q.select("xq", *dists).select(
            "xq",
            F.array_position(
                F.array(*[F.col(f"d{j}") for j in range(k)]),
                F.least(*[F.col(f"d{j}") for j in range(k)]),
            ).alias("c1"),  # 1-based FIRST index of the min = lowest-id tiebreak
        )
        sums = (
            assigned.groupBy("c1")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.col("xq").getItem(i)).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )  # ≤ k rows of k*dim integers — model-sized, never corpus data
        new_cents = [list(c) for c in cents]
        for r in sums:
            j = int(r["c1"]) - 1
            n = int(r["n"])
            # EXACT truncating integer division on Python ints (sign-stable):
            # float `/` before trunc loses exactness once |sum| > 2^53
            # (clusters beyond ~2^32 rows at 2^21-scale coords), breaking
            # the bit-stable integer-refit contract at 100 TB.
            new_cents[j] = [_trunc_div(int(r[f"s{i}"]), n) for i in range(dim)]
        cents = new_cents
    model = {"centroids_q": cents, "k": k, "rounds": rounds, "dim": dim}
    if dataset_key is not None:
        sidecars.save("kmeans", key, model)
    return model


def kmeans_assign(
    corpus: DataFrame,
    model: dict,
) -> DataFrame:
    """Assign every vector to its nearest model centroid: map-only
    (k fold-expression distances per row, argmin with first-index
    tiebreak), output (id, cluster [1-based], dist2_q) — all exact
    BIGINTs."""
    cents = model["centroids_q"]
    k = len(cents)
    dists = [_dist2(_xq(), cents[j]).alias(f"d{j}") for j in range(k)]
    darr = F.array(*[F.col(f"d{j}") for j in range(k)])
    return (
        corpus.select(F.col("vec_id"), *dists)
        .select(
            "vec_id",
            F.array_position(darr, F.least(*[F.col(f"d{j}") for j in range(k)]))
            .cast("bigint")
            .alias("cluster"),
            F.least(*[F.col(f"d{j}") for j in range(k)]).alias("dist2_q"),
        )
    )


def kmeans_oracle_sql(sf_dir: str) -> str:
    """DuckDB replay of the assignment against the committed sidecar:
    identical integer centroids as a literal table, identical BIGINT
    distance, identical (dist, cluster) argmin."""
    model = sidecars.committed(
        "kmeans",
        (sf_dir, "embedding", EMBEDDING_DIM, KMEANS_K, KMEANS_ROUNDS),
        "embedding_kmeans_assign",
    )
    crows = ",\n".join(
        f"({c + 1}, {i}, {int(model['centroids_q'][c][i])})"
        for c in range(len(model["centroids_q"]))
        for i in range(EMBEDDING_DIM)
    )
    return f"""
WITH cent(c, i, cq) AS (VALUES
{crows}
),
elems AS (
  SELECT vec_id, u.i - 1 AS i,
         CAST(FLOOR(u.x * {_Q_SCALE}) AS BIGINT) AS xq
  FROM (
    SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
  ) u
),
d AS (
  SELECT e.vec_id, cent.c,
         SUM((e.xq - cent.cq) * (e.xq - cent.cq)) AS dist2
  FROM elems e JOIN cent ON cent.i = e.i
  GROUP BY 1, 2
),
best AS (
  SELECT vec_id, c, dist2,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist2, c) AS rn
  FROM d
)
SELECT vec_id, CAST(c AS BIGINT) AS cluster,
       CAST(dist2 AS BIGINT) AS dist2_q
FROM best WHERE rn = 1
"""
