"""Similarity search over embedding columns (SURVEY.md §2C).

Two paths:
- brute-force cosine top-k: correctness baseline. The query set is
  broadcast (never corpus×corpus); per-query top-k via window. Cost
  O(|corpus|·|queries|) — fine when queries are bounded.
- LSH (random-hyperplane) bucketed top-k: the scale path. Corpus is
  sign-bucketed once (row-local signature), probing only matching
  buckets; recall traded via number of hyperplanes / probe distance.

Hyperplanes are deterministic pseudo-random vectors derived from
xxhash64(seed, dim-index) — reproducible across runs without shipping
any state.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tda596_lab02mapreduce_spark import sidecars
from tda596_lab02mapreduce_spark.functions.vector import EMBEDDING_DIM, cosine_sim

# Every top-k here ranks a (cosine desc, id asc) or (d2 asc, id asc)
# window over the ``embeddings`` fixture's (vec_id, embedding) columns.
ANN_K = 5  # neighbors per query of ivf_topk, lsh_topk, pq_topk and both replays
_GEMM_MARGIN = 8  # extra per-batch candidates gemm_topk keeps (see its docstring)
# similarity_ivf_topk's quantizer and probe width, read by the query and
# by its DuckDB replay (ivf_oracle_sql) so the two cannot drift apart
IVF_CELLS = 8
IVF_KMEANS_ITERS = 3
IVF_TRAIN_FRACTION = 0.2
IVF_PROBE = 3
# product-quantization codebooks: subspaces × codes, Lloyd rounds, and
# the lowest-id training sample size (pq_fit, pq_oracle_sql)
PQ_M = 16
PQ_CODES = 16
PQ_ITERS = 8
PQ_TRAIN = 4096


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors per query row.

    Returns (query_id, neighbor_id, cosine, nbr_rank). Self-matches
    are excluded. Deterministic tiebreak on neighbor id."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("__qvec"), F.col("__cvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("nbr_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("nbr_rank") <= k)
    )


def gemm_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched matrix multiplication —
    the vectorized fast path of ``brute_force_topk`` (same contract,
    same output shape, ~identical rows; see rounding note).

    Per Arrow batch a single numpy GEMM (X_normalized @ Q_normalizedᵀ)
    scores every (corpus row, query) pair at BLAS speed instead of one
    JVM fold per pair; each batch emits only its top (k+_GEMM_MARGIN)
    candidates per query (top-k of a union ⊆ union of per-part top-k,
    so the global window over ≤ (k+_GEMM_MARGIN)·|q|·n_batches candidate
    rows is exact), and the corpus is never collected — only the
    bounded query matrix rides a broadcast variable.

    Rounding note: numpy's pairwise-summation dot differs from a
    strict left fold (and from DuckDB's list_cosine_similarity) in the
    last ~ulp, so the reported cosine is rounded to 9 dp — 1e-16
    arithmetic spread against a 5e-10 rounding boundary makes the
    result cross-engine deterministic; the per-batch margin absorbs
    any candidate reordering below the rounding grain."""
    spark = corpus.sparkSession
    qrows = queries.select("vec_id", "embedding").collect()  # bounded query set
    bq = spark.sparkContext.broadcast(
        [(int(r[0]), [float(x) for x in r[1]]) for r in qrows]
    )
    kk = k + _GEMM_MARGIN

    def score_batches(batches):
        import numpy as np
        import pyarrow as pa

        q = bq.value
        qids = np.array([t[0] for t in q], dtype=np.int64)
        Q = np.array([t[1] for t in q], dtype=np.float64)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            lst = batch.column(1)
            n = len(lst)
            if n == 0:
                continue
            X = (
                lst.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(n, -1)
            )
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            S = Xn @ Qn.T  # (n, |q|) — one BLAS call scores the batch
            out_q, out_n, out_c = [], [], []
            for j in range(len(qids)):
                # round BEFORE the per-batch cut so the batch-local
                # ordering is the SAME (rounded cosine desc, id asc)
                # ordering the global window uses — otherwise >_GEMM_MARGIN
                # sub-5e-10 near-ties at the k boundary inside one batch
                # could evict a row the rounded ordering ranks inside
                # top-k (ADVICE r8 #2); with identical orderings the cut
                # is provably exact and margin only covers self-matches.
                col = np.round(S[:, j], 9)
                # top (k+_GEMM_MARGIN) by (cosine desc, id asc) — lexsort keys
                # are last-key-primary
                take = np.lexsort((ids, -col))[:kk]
                out_q.append(np.full(len(take), qids[j], dtype=np.int64))
                out_n.append(ids[take].astype(np.int64))
                out_c.append(col[take])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q)),
                    pa.array(np.concatenate(out_n)),
                    pa.array(np.concatenate(out_c)),
                ],
                names=["query_id", "neighbor_id", "cosine"],
            )

    cand = corpus.select(
        F.col("vec_id").cast("long"), F.col("embedding")
    ).mapInArrow(score_batches, "query_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("nbr_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("nbr_rank") <= k)
    )


def _centroid_literal(cent_rows: list[tuple[int, list[float]]]) -> F.Column:
    """The (tiny: k×dim) centroid set as a literal array<struct<cell,
    centroid>> — assignment then needs NO join and NO shuffle, just a
    map-side fold per row."""
    return F.array(
        *[
            F.struct(
                F.lit(int(c)).alias("cell"),
                F.array(*[F.lit(float(x)) for x in v]).alias("centroid"),
            )
            for c, v in cent_rows
        ]
    )


def _cell_scores(vec_field: str, cent_lit: F.Column) -> F.Column:
    """array<struct<d2, cell>> of squared-L2 to every centroid. One
    expression; the vector subtree occurs once (see lsh_buckets note)."""
    return F.transform(
        cent_lit,
        lambda cen: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col(vec_field),
                    cen.getField("centroid"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d2"),
            cen.getField("cell").alias("cell"),
        ),
    )


def _nearest_cell(vec_field: str, cent_lit: F.Column) -> F.Column:
    # array_min on struct<d2,cell> = lexicographic min = deterministic
    # (distance, cell) argmin tiebreak
    return F.array_min(_cell_scores(vec_field, cent_lit)).getField("cell")


def kmeans_centroids(
    points: DataFrame,
    *,
    k: int = 8,
    iters: int = 3,
    train_fraction: float | None = None,
) -> DataFrame:
    """Lloyd's k-means for IVF coarse quantization, Spark-iterative
    style: the model (k×dim doubles) lives driver-side as literals;
    the data never leaves executors.

    ``train_fraction`` trains the quantizer on a deterministic
    (seeded) Bernoulli sample — the standard IVF practice at scale: a
    coarse quantizer needs only enough points per cell to place
    centroids, so at 100 TB you train on ~1e6 sampled vectors, never
    the full corpus. Assignment (in ivf_topk) still covers every row.

    Deterministic: seeds are the k lowest-id vectors. Each iteration:
    assign = map-only argmin against the literal centroid array (zero
    shuffle, embarrassingly parallel at any scale), update =
    posexplode → per-(cell,dim) mean (ONE O(n·dim) shuffle) →
    collect k rows. Materializing per iteration keeps every
    iteration's plan flat — a lazy chained lineage re-executes all
    prior iterations and grows superlinearly.
    Returns a k-row DataFrame (cell: int, centroid: array<double>).

    Float caveat: centroid means are double folds, so the fitted
    model is fold-order-sensitive (the serving ORACLE replays the
    committed sidecar, so correctness is unaffected — refit stability
    is the only exposure). operators/kmeans.py (round 11) is the
    fully-integer alternative: quantized inputs, exact BIGINT
    distances, truncating-integer centroid updates — bit-stable
    refits, hash-checked assignment (embedding_kmeans_assign).
    """
    spark = points.sparkSession
    if train_fraction is not None and train_fraction < 1.0:
        points = points.sample(fraction=train_fraction, seed=7)
    # cache the projected working set: every iteration re-reads it, and
    # without persist each pass re-scans + re-decodes the parquet source
    pts = points.select(
        F.col("vec_id").alias("__pid"), F.col("embedding").cast("array<double>").alias("__v")
    ).persist()
    try:
        seed_rows = pts.orderBy("__pid").limit(k).collect()
        cent_rows: list[tuple[int, list[float]]] = [
            (i, list(r["__v"])) for i, r in enumerate(seed_rows)
        ]
        dim = len(cent_rows[0][1]) if cent_rows else 0
        for _ in range(iters):
            assigned = pts.withColumn(
                "cell", _nearest_cell("__v", _centroid_literal(cent_rows))
            )
            # update = one shuffle of k×dim partial states: per-dimension avg
            # aggregates get map-side partial aggregation (a posexplode →
            # groupBy(cell,pos) form would shuffle n·dim rows instead)
            new_rows = (
                assigned.groupBy("cell")
                .agg(
                    F.array(
                        *[F.avg(F.element_at("__v", i + 1)) for i in range(dim)]
                    ).alias("centroid")
                )
                .collect()
            )
            updated = {int(r["cell"]): list(r["centroid"]) for r in new_rows}
            # a cell that captured no points keeps its previous centroid
            cent_rows = [(c, updated.get(c, v)) for c, v in cent_rows]
    finally:
        pts.unpersist()
    return spark.createDataFrame(cent_rows, "cell int, centroid array<double>")


IvfModel = list[tuple[int, list[float]]]


def ivf_fit(
    corpus: DataFrame,
    *,
    n_cells: int = 8,
    kmeans_iters: int = 3,
    train_fraction: float | None = None,
    dataset_key: str | None = None,
    refit: bool = False,
) -> IvfModel:
    """Fit (or fetch) the IVF coarse quantizer (fit-once/serve-many:
    at 100 TB the quantizer is fit offline once and served to every
    query; refitting per invocation was round 1's scale anti-pattern).
    With ``dataset_key`` (e.g. the sf_dir path) the k×dim model is
    served from (and published to) the sidecar store, so repeated
    queries — and fresh processes — probe a prebuilt model instead of
    re-running Lloyd. Stale-on-data-change is the standard ANN-index
    contract: rebuilding the corpus requires ``refit=True``."""
    # the column names stay in the key: they name the committed sidecars
    key = (dataset_key, "embedding", "vec_id", n_cells, kmeans_iters, train_fraction)
    if dataset_key is not None and not refit:
        model = sidecars.load("ivf", key)
        if model is not None:
            return [(c, v) for c, v in model]  # JSON gives [c, v] lists
    cents = kmeans_centroids(
        corpus,
        k=n_cells,
        iters=kmeans_iters,
        train_fraction=train_fraction,
    )
    model = [(int(r["cell"]), list(r["centroid"])) for r in cents.collect()]
    if dataset_key is not None:
        sidecars.save("ivf", key, model)
    return model


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    n_cells: int = 8,
    n_probe: int = 2,
    kmeans_iters: int = 3,
    train_fraction: float | None = None,
    model: IvfModel | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the classic ANN scale path
    (Faiss IVF-Flat shape). Corpus is partitioned once into n_cells by a
    k-means coarse quantizer; each query scores only its n_probe nearest
    cells, so scan cost drops to ~n_probe/n_cells of brute force while
    the cell assignment reuses one equi-join on cell id.

    ``model`` is the fit/probe split: pass ``ivf_fit(...)`` output to
    probe a prebuilt quantizer (the serving path); omitting it fits
    inline (the one-shot path, used by recall tests).  The corpus
    assignment (the inverted file) is a map-only argmin recomputed per
    call — at 100 TB it would be a stored table partitioned by cell,
    built once with the model; no DataFrame is kept between calls.

    Same output shape as brute_force_topk; recall is pytest-asserted
    (tests/test_dedup.py), driver check is rows-only."""
    cent_rows = model if model is not None else ivf_fit(
        corpus,
        n_cells=n_cells,
        kmeans_iters=kmeans_iters,
        train_fraction=train_fraction,
    )
    cent_lit = _centroid_literal(cent_rows)

    # corpus assignment: map-only argmin against the literal centroids
    c_assigned = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("__cvec"),
    ).withColumn("cell", _nearest_cell("__cvec", cent_lit))

    # each query probes its n_probe nearest cells — row-local: sort the
    # k (d2, cell) scores in-row and explode the first n_probe
    q_cells = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("__qvec"),
        )
        .withColumn(
            "cell",
            F.explode(
                F.transform(
                    F.slice(
                        F.array_sort(_cell_scores("__qvec", cent_lit)), 1, n_probe
                    ),
                    lambda s: s.getField("cell"),
                )
            ),
        )
        .select("query_id", "__qvec", "cell")
    )
    scored = (
        c_assigned.join(F.broadcast(q_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("__qvec"), F.col("__cvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("nbr_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("nbr_rank") <= ANN_K)
    )


def _plane_component(table: int, plane: int, j: int) -> float:
    """Deterministic pseudo-random hyperplane component in (-0.5, 0.5):
    sha256(table:plane:j) → uniform [0,1) → centered. Computed in
    Python at plan-build time, so the hyperplane tensor enters the plan
    as plain literals — no per-query hash expressions to constant-fold."""
    h = int.from_bytes(
        hashlib.sha256(f"{table}:{plane}:{j}".encode()).digest()[:8], "big"
    )
    return (h % 100003) / 100003.0 - 0.5


def lsh_buckets(
    vec_col: F.Column, dim: int, n_planes: int, n_tables: int
) -> F.Column:
    """Per-table random-hyperplane signatures: returns array<long> of
    length n_tables; element t packs n_planes sign bits for hyperplane
    family t.

    Built as ONE nested higher-order expression over a literal
    [tables][planes][dim] tensor — the input vector subtree occurs
    exactly once, so projection collapse cannot multiply the fold
    (the per-plane/per-table inline form measured 10×+ slower)."""
    tensor = F.array(
        *[
            F.array(
                *[
                    F.array(
                        *[
                            F.lit(_plane_component(t, p, j))
                            for j in range(dim)
                        ]
                    )
                    for p in range(n_planes)
                ]
            )
            for t in range(n_tables)
        ]
    )
    weights = F.array(*[F.lit(1 << p).cast("long") for p in range(n_planes)])
    v = vec_col.cast("array<double>")
    return F.transform(
        tensor,
        lambda planes: F.aggregate(
            F.zip_with(
                F.transform(
                    planes,
                    lambda h: F.aggregate(
                        F.zip_with(v, h, lambda x, y: x * y),
                        F.lit(0.0),
                        lambda a, x: a + x,
                    ),
                ),
                weights,
                lambda d, w: F.when(d > 0, w).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    n_planes: int = 6,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate cosine top-k with OR-construction: n_tables
    independent hyperplane tables; a corpus row is a candidate if it
    shares a bucket with the query in ANY table (explode tables →
    equi-join on (table, bucket) → dedup → score). Recall rises with
    n_tables at linear candidate cost — the standard LSH tradeoff.
    Same output shape as brute_force_topk; recall measured in tests."""

    def with_buckets(df: DataFrame, idc: str, vecc: str) -> DataFrame:
        return df.select(
            F.col(idc),
            F.col(vecc),
            F.posexplode(
                lsh_buckets(F.col(vecc), EMBEDDING_DIM, n_planes, n_tables)
            ).alias(
                "tbl", "bucket"
            ),
        )

    q = with_buckets(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
        ),
        "query_id",
        "__qvec",
    )
    c = with_buckets(
        corpus.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cvec")
        ),
        "neighbor_id",
        "__cvec",
    )
    candidates = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "__qvec", "__cvec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = candidates.select(
        "query_id",
        "neighbor_id",
        cosine_sim(F.col("__qvec"), F.col("__cvec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("nbr_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("nbr_rank") <= ANN_K)
    )


# --- Product quantization (round-8): the memory-compression ANN path --


PqModel = list  # [subspace][code] -> centroid subvector (list[float])


def pq_fit(
    corpus: DataFrame,
    *,
    m: int = 8,
    dataset_key: str | None = None,
    refit: bool = False,
) -> "PqModel":
    """Fit (or fetch) product-quantization codebooks (Jégou et al., "
    "TPAMI'11): split the dim-D vector into ``m`` subvectors and run "
    "an independent k-means (``PQ_CODES`` codes) in each subspace.

    Training follows the Faiss contract exactly: Lloyd runs IN MEMORY
    on a BOUNDED sample (the ``PQ_TRAIN`` lowest-id vectors — a
    deterministic stand-in for Faiss's shuffled subsample), because a
    codebook needs only enough points per code to place centroids; the
    collect moves PQ_TRAIN×D floats ONCE, never the corpus.  Encoding
    and probing (pq_topk) stay fully distributed.  Same sidecar-store
    protocol as ivf_fit — fit-once/serve-many."""
    import numpy as np

    key = (dataset_key, "embedding", "vec_id", m, PQ_CODES, PQ_ITERS, PQ_TRAIN)
    if dataset_key is not None and not refit:
        model = sidecars.load("pq", key)
        if model is not None:
            return model

    rows = (
        corpus.select(F.col("vec_id"), F.col("embedding").cast("array<double>"))
        .orderBy("vec_id")
        .limit(PQ_TRAIN)
        .collect()
    )
    x = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    n, dim = x.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    model = []
    for j in range(m):
        sub = x[:, j * d : (j + 1) * d]
        cents = sub[: min(PQ_CODES, n)].copy()  # deterministic seeds: first rows
        for _ in range(PQ_ITERS):
            # assign: n×k squared L2, argmin (lowest code wins ties)
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(len(cents)):
                pts = sub[a == c]
                if len(pts):
                    cents[c] = pts.mean(axis=0)
        model.append([[float(v) for v in c] for c in cents])

    if dataset_key is not None:
        sidecars.save("pq", key, model)
    return model


def pq_encode(df: DataFrame, model: "PqModel") -> DataFrame:
    """``(neighbor_id, codes array<int>)`` — Arrow-batched numpy
    encoding: one argmin over an (batch × k) distance matrix per
    subspace per batch.  The first cut built this as a literal
    Catalyst expression tree (m×k zip_with-aggregates per row); at
    m=16, k=16 that is a 256-aggregate codegen unit whose COMPILE time
    dominated the fixture run (10.4 s at sf0.1, ratio 1.14 at 10× —
    pure fixed cost).  This is the gemm_topk precedent: BLAS-ish
    batched numpy beats per-element JVM folds on wide vectors, and
    the codebooks ship to executors as a closure, zero shuffle."""
    import numpy as np
    import pyarrow as pa

    m = len(model)
    d = len(model[0][0])
    cents = [np.asarray(sub, dtype=np.float64) for sub in model]

    def encode(batches):
        for batch in batches:
            ids = batch.column(0)
            vecs = np.asarray(
                [list(v) for v in batch.column(1).to_pylist()], dtype=np.float64
            )
            if len(vecs) == 0:
                continue
            codes = np.empty((len(vecs), m), dtype=np.int32)
            for j in range(m):
                sub = vecs[:, j * d : (j + 1) * d]
                d2 = ((sub[:, None, :] - cents[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)  # ties -> lowest code
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(codes.tolist(), type=pa.list_(pa.int32()))],
                names=["neighbor_id", "codes"],
            )

    src = df.select(
        F.col("vec_id").cast("long").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("__vec"),
    )
    return src.mapInArrow(encode, "neighbor_id long, codes array<int>")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    model: "PqModel",
    refine: int | None = None,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) approximate top-k: corpus rows are
    represented by m small integer codes (m bytes instead of D floats
    — the 32× memory compression that lets a 100 TB embedding corpus
    fit an ANN index), queries stay exact; distance is the sum of m
    per-subspace lookup-table entries.

    Spark shape: encoding is a map-only Arrow-batched numpy kernel
    (pq_encode); the per-query LUT (m×k floats) is computed driver-side
    in numpy from
    the tiny query set and broadcast as a literal column, so scoring
    is ONE broadcast nested loop (every corpus row × every query) of
    pure array arithmetic — zip the code array with the LUT and sum m
    lookups, O(m) per pair instead of O(D).  Top-k per query finishes
    on a query-keyed window (WindowGroupLimit).

    ``refine`` is Faiss's IndexRefine stage: take the ADC top-``refine``
    shortlist, join the EXACT vectors back for those q×refine rows
    only, and re-rank by true squared L2 — the standard recall
    recovery when codes are coarse relative to the data's intrinsic
    dimension (synthetic isotropic embeddings are the worst case).
    Approximate by construction either way: rows-only contract, recall
    floor pytest-asserted."""
    import numpy as np

    m = len(model)
    d = len(model[0][0])
    q_rows = (
        queries.select(F.col("vec_id"), F.col("embedding").cast("array<double>"))
        .orderBy("vec_id")
        .collect()
    )
    cents = [np.asarray(sub, dtype=np.float64) for sub in model]
    lut_rows = []
    for r in q_rows:
        qv = np.asarray(list(r[1]), dtype=np.float64)
        lut = [
            [
                float(((qv[j * d : (j + 1) * d] - cents[j][c]) ** 2).sum())
                for c in range(len(cents[j]))
            ]
            for j in range(m)
        ]
        lut_rows.append((int(r[0]), lut))
    spark = corpus.sparkSession
    q_lut = F.broadcast(
        spark.createDataFrame(
            lut_rows, f"query_id bigint, lut array<array<double>>"
        )
    )
    coded = pq_encode(corpus, model)
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("lut"),
            lambda c, l: F.element_at(l, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        coded.crossJoin(q_lut)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(adc, 6).alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id")
    )
    shortlist = (
        scored.withColumn("nbr_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("nbr_rank") <= (refine or ANN_K))
    )
    if refine is None:
        return shortlist

    # refine: exact vectors join back for the q×refine shortlist only;
    # the query vectors ride the same tiny broadcast as the LUT
    q_exact = F.broadcast(
        spark.createDataFrame(
            [(int(r[0]), [float(x) for x in r[1]]) for r in q_rows],
            "query_id bigint, __qvec array<double>",
        )
    )
    c_exact = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("__cvec"),
    )
    exact_d2 = F.aggregate(
        F.zip_with(
            F.col("__qvec"), F.col("__cvec"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    refined = (
        shortlist.drop("nbr_rank")
        .join(c_exact, "neighbor_id")
        .join(q_exact, "query_id")
        .select("query_id", "neighbor_id", F.round(exact_d2, 6).alias("d2"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id")
    )
    return (
        refined.withColumn("nbr_rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("nbr_rank") <= ANN_K)
    )


# ---------------------------------------------------------------------------
# ANN serving-path oracle replay (VERDICT r8 next-round #1)
#
# The IVF/PQ FITS are sample-based and stay property-tested (recall
# floors); but the SERVING half — assignment, ADC scoring, top-k — is
# pure deterministic arithmetic GIVEN the fitted model.  The canonical
# serving models are the committed JSON sidecars under .models/ (the
# same files ivf_fit/pq_fit consult before refitting), so both engines
# replay the identical model: Spark loads it from the sidecar store,
# DuckDB gets it embedded as a literal table by the builders below.
# Bit-exactness argument: every float reduction on the Spark side is a
# strict left fold (F.aggregate seeded 0.0); DuckDB's list_reduce seeds
# with the first element, and 0.0 + x1 == x1 bitwise — the same
# discipline similarity_lsh_topk's oracle already proves out.  The PQ
# path's numpy folds (pq_encode argmin, the per-query LUT) sum ≤ 8
# contiguous elements, where numpy's pairwise summation degenerates to
# the same sequential left fold.
# ---------------------------------------------------------------------------

CORRECTNESS_SF = "/root/testdata/sf0.01"


def _sql_double(x: float) -> str:
    # repr() is the shortest round-trip decimal: DuckDB parses it back
    # to the bit-identical double
    return repr(float(x))


def ivf_oracle_sql(sf_dir: str = CORRECTNESS_SF) -> str:
    """DuckDB replay of the ivf_topk SERVING path against the committed
    sidecar model: argmin-L2 cell assignment (tie → lowest cell) for
    the corpus, n_probe nearest cells per query (vec_id < 10), exact
    cosine within probed cells, top-k by (cosine DESC, neighbor_id)."""
    model = sidecars.committed(
        "ivf",
        (sf_dir, "embedding", "vec_id", IVF_CELLS, IVF_KMEANS_ITERS, IVF_TRAIN_FRACTION),
        "similarity_ivf_topk",
    )
    rows = ",\n".join(
        f"({int(c)}, [{', '.join(_sql_double(x) for x in v)}]::DOUBLE[])"
        for c, v in model
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents(cell, cen) AS (VALUES
{rows}
),
d AS (
  SELECT e.vec_id, cents.cell,
         list_reduce(list_transform(range(1, {EMBEDDING_DIM + 1}),
             j -> (e.v[j] - cents.cen[j]) * (e.v[j] - cents.cen[j])),
           (a, b) -> a + b) AS d2
  FROM e, cents
),
a AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM d
  ) WHERE rn = 1
),
qc AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM d WHERE vec_id < 10
  ) WHERE rn <= {IVF_PROBE}
),
scored AS (
  SELECT qc.query_id, a.vec_id AS neighbor_id,
         list_cosine_similarity(qe.v, ce.v) AS cosine
  FROM qc JOIN a USING (cell)
  JOIN e qe ON qe.vec_id = qc.query_id
  JOIN e ce ON ce.vec_id = a.vec_id
  WHERE a.vec_id <> qc.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(nbr_rank AS BIGINT) AS nbr_rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS nbr_rank
      FROM scored)
WHERE nbr_rank <= {ANN_K}
"""


def pq_oracle_sql(sf_dir: str = CORRECTNESS_SF, *, refine: int = 50) -> str:
    """DuckDB replay of the pq_topk SERVING path against the committed
    sidecar codebooks: per-subspace argmin encoding (tie → lowest
    code), per-query LUT, ADC = j-ordered left-fold sum rounded to
    6 dp, top-``refine`` shortlist, exact-L2 re-rank to top-``ANN_K``."""
    model = sidecars.committed(
        "pq",
        (sf_dir, "embedding", "vec_id", PQ_M, PQ_CODES, PQ_ITERS, PQ_TRAIN),
        "similarity_pq_topk",
    )
    d = EMBEDDING_DIM // PQ_M
    rows = ",\n".join(
        f"({j}, {c}, [{', '.join(_sql_double(x) for x in cen)}]::DOUBLE[])"
        for j, sub in enumerate(model)
        for c, cen in enumerate(sub)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cb(j, c, cen) AS (VALUES
{rows}
),
encd AS (
  SELECT e.vec_id, cb.j, cb.c,
         list_reduce(list_transform(range(1, {d + 1}),
             t -> (e.v[cb.j * {d} + t] - cb.cen[t])
                  * (e.v[cb.j * {d} + t] - cb.cen[t])),
           (a, b) -> a + b) AS d2
  FROM e, cb
),
enc AS (
  SELECT vec_id, j, c FROM (
    SELECT vec_id, j, c,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
    FROM encd
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
lut AS (
  SELECT q.query_id, cb.j, cb.c,
         list_reduce(list_transform(range(1, {d + 1}),
             t -> (q.qv[cb.j * {d} + t] - cb.cen[t])
                  * (q.qv[cb.j * {d} + t] - cb.cen[t])),
           (a, b) -> a + b) AS pd2
  FROM q, cb
),
adc AS (
  SELECT l.query_id, enc.vec_id AS neighbor_id,
         round(list_reduce(list(l.pd2 ORDER BY l.j), (a, b) -> a + b), 6)
           AS adc_d2
  FROM enc JOIN lut l ON l.j = enc.j AND l.c = enc.c
  WHERE enc.vec_id <> l.query_id
  GROUP BY l.query_id, enc.vec_id
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rn
    FROM adc
  ) WHERE rn <= {refine}
),
ref AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_reduce(list_transform(range(1, {EMBEDDING_DIM + 1}),
             t -> (qe.v[t] - ce.v[t]) * (qe.v[t] - ce.v[t])),
           (a, b) -> a + b), 6) AS d2
  FROM short s
  JOIN e qe ON qe.vec_id = s.query_id
  JOIN e ce ON ce.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, d2, CAST(nbr_rank AS BIGINT) AS nbr_rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY d2, neighbor_id) AS nbr_rank
      FROM ref)
WHERE nbr_rank <= {ANN_K}
"""
