"""PCA projection for embedding columns — fit once, serve as an
exact integer dot product.

The round-8/9 ANN work established the repo's model discipline
(operators/similarity.py): FIT is sample/float math persisted as a
committed JSON sidecar under ``.models/``; SERVE is deterministic
arithmetic GIVEN the model, hash-checked against a DuckDB oracle that
embeds the same sidecar as a literal table.  PCA follows it with one
improvement: the sidecar stores the mean and component weights
PRE-QUANTIZED to integers (floor(x * 2^20) — the power-of-two scale
of embedding_jl_project, exact for float32 inputs), so the entire
serving path is BIGINT arithmetic: order-independent, AQE-safe,
bit-identical across engines with no fold-order argument needed at
all (the IVF/PQ oracles still need the left-fold discipline; this one
designs the floats away).

Fit is the textbook distributed two-pass-free covariance: one
``mapInArrow`` pass emits per-batch partial moments (n, Σx, ΣxxT) —
65 + dim² numbers per batch regardless of batch size — the driver
combines the ≤ num_partitions partials, eigendecomposes the dim×dim
covariance (``numpy.linalg.eigh``, deterministic), and keeps the top
``q`` components with a sign canon (largest-|w| coordinate positive).
At 100 TB the fit moves dim²-sized partials only; the serve is one
posexplode + one broadcast join + one (vec_id, dim) keyed aggregate —
the JL plan shape with learned weights.

Reference parity: the reference engine has no embedding operators at
all (mr/ is a word-count MapReduce); this extends the §2C
training-data band (SURVEY.md §2C similarity rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import sidecars
from tda596_lab02mapreduce_spark.functions.vector import EMBEDDING_DIM

_Q_SCALE = 1 << 20  # power of two: exact multiply for float32 inputs
PCA_COMPONENTS = 8  # embedding_pca_project's model width (fit and replay)


def pca_fit(
    corpus: DataFrame,
    *,
    dataset_key: str | None = None,
    refit: bool = False,
) -> dict:
    """Fit (or fetch) the PCA model: ``{"mean_q": [dim ints],
    "w_q": [PCA_COMPONENTS][dim ints]}`` — both floor(x * 2^20)
    quantized.  With ``dataset_key`` the model is served from (and
    published to) the sidecar store (fit-once/serve-many)."""
    dim = EMBEDDING_DIM
    key = (dataset_key, "embedding", dim, PCA_COMPONENTS)
    if dataset_key is not None and not refit:
        model = sidecars.load("pca", key)
        if model is not None:
            return model

    import numpy as np

    def partial_moments(batches):
        import pyarrow as pa

        for batch in batches:
            arr = batch.column("embedding")
            mat = np.asarray(arr.flatten(), dtype=np.float64).reshape(-1, dim)
            yield pa.RecordBatch.from_pydict(
                {
                    "n": [int(mat.shape[0])],
                    "s1": [mat.sum(axis=0).tolist()],
                    "s2": [(mat.T @ mat).reshape(-1).tolist()],
                }
            )

    parts = corpus.select("embedding").mapInArrow(
        partial_moments, "n long, s1 array<double>, s2 array<double>"
    )
    # ≤ one row per Arrow batch: a k-row collect of dim²-sized
    # summaries, never corpus data (the io discipline)
    rows = parts.collect()
    n = sum(r["n"] for r in rows)
    s1 = np.sum([np.asarray(r["s1"]) for r in rows], axis=0)
    s2 = np.sum([np.asarray(r["s2"]).reshape(dim, dim) for r in rows], axis=0)
    mean = s1 / n
    cov = s2 / n - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending, deterministic
    comps = eigvecs[:, ::-1][:, :PCA_COMPONENTS].T  # rows = top components
    # sign canon: largest-|w| coordinate positive (eigh's sign is
    # arbitrary; the committed sidecar must not flip across refits)
    for r in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[r])))
        if comps[r, j] < 0:
            comps[r] = -comps[r]
    model = {
        "mean_q": [int(np.floor(x * _Q_SCALE)) for x in mean],
        "w_q": [[int(np.floor(x * _Q_SCALE)) for x in row] for row in comps],
        "explained_var": [float(v) for v in eigvals[::-1][:PCA_COMPONENTS]],
        "total_var": float(eigvals.sum()),
    }
    if dataset_key is not None:
        sidecars.save("pca", key, model)
    return model


def pca_project(
    spark: SparkSession,
    corpus: DataFrame,
    model: dict,
) -> DataFrame:
    """Project every vector onto the model's components as a pure
    BIGINT dot product: proj_q[d] = Σ_i w_q[d][i] * (x_q[i] - mean_q[i])
    with x_q = floor(x * 2^20).  Output (id, dim, proj_q)."""
    dim = len(model["mean_q"])
    elems = corpus.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select(
        F.col("vec_id"),
        F.col("pos").alias("i"),
        F.floor(F.col("col") * _Q_SCALE).cast("bigint").alias("xq"),
    )
    wrows = [
        (d, i, int(model["w_q"][d][i]), int(model["mean_q"][i]))
        for d in range(len(model["w_q"]))
        for i in range(dim)
    ]
    wdf = spark.createDataFrame(wrows, "d int, i int, wq long, mq long")
    return (
        elems.join(F.broadcast(wdf), "i")
        .groupBy(F.col("vec_id"), F.col("d").alias("dim"))
        .agg(
            F.sum(F.col("wq") * (F.col("xq") - F.col("mq")))
            .cast("bigint")
            .alias("proj_q")
        )
    )


def pca_oracle_sql(sf_dir: str) -> str:
    """DuckDB replay of the projection against the committed sidecar:
    the identical quantized-integer model as a literal table, the
    identical BIGINT dot product."""
    model = sidecars.committed(
        "pca",
        (sf_dir, "embedding", EMBEDDING_DIM, PCA_COMPONENTS),
        "embedding_pca_project",
    )
    wrows = ",\n".join(
        f"({d}, {i}, {int(model['w_q'][d][i])}, {int(model['mean_q'][i])})"
        for d in range(len(model["w_q"]))
        for i in range(EMBEDDING_DIM)
    )
    return f"""
WITH w(d, i, wq, mq) AS (VALUES
{wrows}
),
elems AS (
  SELECT vec_id, u.i - 1 AS i,
         CAST(FLOOR(u.x * {_Q_SCALE}) AS BIGINT) AS xq
  FROM (
    SELECT vec_id, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
  ) u
)
SELECT e.vec_id, w.d AS dim,
       CAST(SUM(w.wq * (e.xq - w.mq)) AS BIGINT) AS proj_q
FROM elems e JOIN w ON w.i = e.i
GROUP BY 1, 2
"""
