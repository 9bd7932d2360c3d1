"""LLM-data-pipeline extension queries (SURVEY.md §2C): dedup
(exact / MinHash-LSH / SimHash / n-gram Jaccard), embedding
similarity search (brute-force + LSH), and text analysis (lang-id,
quality scoring, token counting, fingerprinting).

The documents corpus is the Spark-era analogue of the reference's
pg-*.txt Gutenberg inputs (FIXTURES.md §1.1); tokenization keeps the
exact wc.go letter-run semantics throughout.

Retention note (ADVICE r16): the lazily-checkpointed shared frames in
this module (the shingle/pair sources, BPE's initial encoding) are
not unpersisted inside the query builders — the consuming action runs
AFTER the builder returns, so no caller boundary exists where an
unpersist would be safe. Blocks are bounded per query and evicted LRU
by the block manager; a long-lived session wanting eager release can
unpersist through the returned frame's lineage or cycle the session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import io
from tda596_lab02mapreduce_spark.functions.text import ngram_shingles, tokens_nonempty
from tda596_lab02mapreduce_spark.functions.vector import cosine_sim  # noqa: F401 (re-export for docs)
from tda596_lab02mapreduce_spark.operators import dedup as dd
from tda596_lab02mapreduce_spark.operators import similarity as sim
from tda596_lab02mapreduce_spark.operators.components import connected_components
from tda596_lab02mapreduce_spark.registry import register


def _blocked_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Candidate pairs (id_a < id_b, 3-shingle Jaccard) blocked on the
    first-3-token prefix — the deterministic pair source shared by
    `dedup_ngram_jaccard` (reports pairs) and `union_find_components`
    (collapses them to clusters)."""
    toked = docs.select(
        "doc_id", tokens_nonempty(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 3)
    sh = toked.select(
        "doc_id",
        F.concat_ws(" ", F.slice("toks", 1, 3)).alias("prefix"),
        F.array_distinct(ngram_shingles(F.col("toks"), 3)).alias("s"),
    )
    # both self-join sides consume sh: checkpoint so tokenize +
    # shingle-build runs once and the sides' identical exchanges are
    # ReuseExchange-merged (optimization r16, guide §1.2/§2.4;
    # measured 1.07–1.25 s → 0.85 s at sf0.1 for the pair source)
    sh = sh.localCheckpoint(eager=False)
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    return (
        a.join(
            b,
            (F.col("a.prefix") == F.col("b.prefix"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (
                inter.cast("double")
                / (F.size(F.col("a.s")) + F.size(F.col("b.s")) - inter)
            ).alias("jaccard"),
        )
    )


@register(
    "dedup_exact",
    oracle="""
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text) keep USING (doc_id)
""",
    doc=(
        "Exact content dedup: survivors = lowest doc_id per distinct text. "
        "Only (sha256, id) shuffles — payload text stays columnar at the scan "
        "(operators/dedup.py:exact_dedup)."
    ),
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    return dd.exact_dedup(docs, "text", "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "dedup_ngram_jaccard",
    oracle=r"""
WITH sh AS (
  SELECT doc_id,
         array_to_string(tk[1:3], ' ') AS prefix,
         list_distinct(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' '))) AS s
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '') AS tk
        FROM documents)
  WHERE len(tk) >= 3
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
       / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) AS jaccard
FROM sh a JOIN sh b ON a.prefix = b.prefix AND a.doc_id < b.doc_id
""",
    doc=(
        "Exact 3-shingle Jaccard over blocked candidate pairs (blocking key = "
        "first-3-token prefix). Blocking keeps the pair space linear-ish; the "
        "MinHash variant below is the scale path when no natural block exists."
    ),
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    return _blocked_jaccard_pairs(docs)


@register(
    "dedup_containment",
    oracle=r"""
WITH sh AS (
  SELECT doc_id,
         array_to_string(tk[1:3], ' ') AS prefix,
         list_distinct(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' '))) AS s
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '') AS tk
        FROM documents)
  WHERE len(tk) >= 3
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, len(a.s) AS na, len(b.s) AS nb,
         len(list_filter(a.s, x -> list_contains(b.s, x))) AS inter
  FROM sh a JOIN sh b ON a.prefix = b.prefix AND a.doc_id < b.doc_id
)
SELECT CASE WHEN na < nb THEN id_b ELSE id_a END AS id_kept,
       CASE WHEN na < nb THEN id_a ELSE id_b END AS id_dropped,
       CAST(inter AS DOUBLE) / least(na, nb) AS containment
FROM pairs
WHERE CAST(inter AS DOUBLE) / least(na, nb) >= 0.9
""",
    doc=(
        "Containment (substring-style) dedup: over the deterministic "
        "prefix-blocked candidate pairs, a doc whose shingle set is ≥90% "
        "contained in a LARGER doc's set is dropped in favor of the "
        "container — the asymmetric variant of Jaccard dedup that "
        "catches quoted/excerpted near-copies symmetric similarity "
        "misses (|A∩B|/min(|A|,|B|) is high even when |A|≪|B| makes "
        "Jaccard low). Equal sizes keep the lower doc_id (the min-id "
        "survivor convention). Same scale posture as "
        "dedup_ngram_jaccard: blocking keeps pairs linear-ish, shingle "
        "sets ride only the blocked join."
    ),
    tags=("dedup",),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", tokens_nonempty(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 3)
    sh = toked.select(
        "doc_id",
        F.concat_ws(" ", F.slice("toks", 1, 3)).alias("prefix"),
        F.array_distinct(ngram_shingles(F.col("toks"), 3)).alias("s"),
    )
    # both self-join sides consume sh: checkpoint so tokenize +
    # shingle-build runs once and the sides' identical exchanges are
    # ReuseExchange-merged (optimization r16, guide §1.2/§2.4;
    # measured 1.07–1.25 s → 0.85 s at sf0.1 for the pair source)
    sh = sh.localCheckpoint(eager=False)
    a, b = sh.alias("a"), sh.alias("b")
    na, nb = F.size(F.col("a.s")), F.size(F.col("b.s"))
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    pairs = a.join(
        b,
        (F.col("a.prefix") == F.col("b.prefix"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.when(na < nb, F.col("b.doc_id")).otherwise(F.col("a.doc_id")).alias("id_kept"),
        F.when(na < nb, F.col("a.doc_id")).otherwise(F.col("b.doc_id")).alias("id_dropped"),
        (inter.cast("double") / F.least(na, nb)).alias("containment"),
    )
    return pairs.filter(F.col("containment") >= 0.9)


# DuckDB literal rendering of the frozen md5lin constants — the oracle
# replays the ENTIRE minhash pipeline (tokenize → shingle → base md5
# hash → 16 universal draws → band → self-join → exact Jaccard) with
# the same arithmetic, so the driver hash-checks every output value.
_MH_A_SQL = "[" + ",".join(str(a) for a in dd.MINHASH_A) + "]"
_MH_B_SQL = "[" + ",".join(str(b) for b in dd.MINHASH_B) + "]"

_MINHASH_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '[^\p{{L}}]+'), t -> t <> '') AS tk
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
              ELSE list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' ')) END) AS s
  FROM toks
),
bh AS (
  SELECT doc_id, s,
         list_transform(s, x -> CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)) AS b
  FROM sh
),
sig AS (
  SELECT doc_id, s,
         list_transform(range(0, 16), i ->
           list_min(list_transform(b, h -> ({_MH_A_SQL}[i+1]*h + {_MH_B_SQL}[i+1]) % {dd.MINHASH_MOD}))) AS sg
  FROM bh
),
banded AS (
  SELECT doc_id, sig.s, bnd.band,
         array_to_string(sg[bnd.band*4+1 : bnd.band*4+4], ',') AS band_key
  FROM sig, (SELECT UNNEST(range(0, 4)) AS band) bnd
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM banded a JOIN banded b2
    ON a.band = b2.band AND a.band_key = b2.band_key AND a.doc_id < b2.doc_id
)
SELECT id_a, id_b,
       CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
       / (len(sa.s) + len(sb.s) - len(list_filter(sa.s, x -> list_contains(sb.s, x)))) AS jaccard
FROM cand JOIN sh sa ON sa.doc_id = cand.id_a JOIN sh sb ON sb.doc_id = cand.id_b
WHERE CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
      / (len(sa.s) + len(sb.s) - len(list_filter(sa.s, x -> list_contains(sb.s, x)))) >= 0.5
"""


@register(
    "dedup_minhash_lsh",
    oracle=_MINHASH_ORACLE,
    doc=(
        "MinHash(16 perms) + LSH(4 bands) candidate pairs verified by exact "
        "shingle Jaccard ≥ 0.5, fused into one corpus pass (shingle set "
        "computed once, signature derived from it, set rides the band "
        "exchange — operators/dedup.py:minhash_near_dup_pairs). "
        "Sub-quadratic by construction: pair discovery is an equi-join on "
        "band keys. Signature family is the portable md5lin draw "
        "(one md5 per shingle + 16 universal hashes mod 2^31-1), so the "
        "ENTIRE pipeline is replayed value-exactly by the DuckDB oracle; "
        "the xxhash64 fast path stays available via family='xxh64' and is "
        "parity-property-tested (tests/test_dedup.py)."
    ),
    tags=("dedup",),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    # few-split local input: spread the compute-bound signature stage
    # across all cores (a cluster scan would already have enough splits)
    n_part = spark.sparkContext.defaultParallelism
    return dd.minhash_near_dup_pairs(
        docs, "text", "doc_id", threshold=0.5, n_partitions=n_part, family="md5lin",
    )


# SimHash oracle: counters replayed per bit from the md5 hex string
# (2·|tokens with bit set| − |tokens|), chunk keys re-derived from the
# counter signs, hamming = #sign-disagreements ≡ popcount(a XOR b).
_SIMHASH_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '') AS tk
  FROM documents
),
hx AS (
  SELECT doc_id, list_transform(tk, t -> substr(md5(t), 1, 16)) AS hs FROM toks
),
sig AS (
  SELECT doc_id,
         list_transform(range(0, 64), b ->
           2*len(list_filter(hs, h -> ((CAST('0x' || h[(b//4)+1] AS INTEGER) >> (3 - (b%4))) & 1) = 1)) - len(hs)) AS counters
  FROM hx
),
banded AS (
  SELECT doc_id, counters, c.chunk,
         list_sum(list_transform(range(0, 16), j ->
           CASE WHEN counters[64 - 16*c.chunk - j] > 0 THEN 1<<j ELSE 0 END)) AS chunk_val
  FROM sig, (SELECT UNNEST(range(0, 4)) AS chunk) c
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_filter(range(1, 65), i -> (a.counters[i] > 0) <> (b.counters[i] > 0))) AS hamming
  FROM banded a JOIN banded b
    ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 12
"""


@register(
    "dedup_simhash",
    oracle=_SIMHASH_ORACLE,
    doc=(
        "SimHash(64-bit, row-local fold — zero shuffle to build signatures) "
        "with 16-bit chunk banding; pairs kept at hamming ≤ 12. Signature "
        "family is the portable md5 bit-vote draw (4 votes per hex char of "
        "one md5 per distinct token), so the DuckDB oracle re-derives the "
        "counters, chunk keys, and hamming distances value-exactly; "
        "family='xxh64' remains the fast path, parity-property-tested."
    ),
    tags=("dedup",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    return dd.simhash_pairs(
        docs,
        "text",
        "doc_id",
        max_hamming=12,
        n_partitions=spark.sparkContext.defaultParallelism,
        family="md5",
    )


@register(
    "similarity_topk",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
     c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_cosine_similarity(qv, cv) AS cosine
  FROM q, c
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(nbr_rank AS BIGINT) AS nbr_rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS nbr_rank
      FROM scored)
WHERE nbr_rank <= 5
""",
    doc=(
        "Brute-force cosine top-5 for 10 query vectors: query set broadcast, "
        "corpus never self-joined; double-precision left-fold dot product is "
        "bit-identical to DuckDB's list_cosine_similarity."
    ),
    tags=("similarity",),
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.brute_force_topk(emb, queries, k=5)


@register(
    "similarity_topk_gemm",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
     c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_cosine_similarity(qv, cv), 9) AS cosine
  FROM q, c
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(nbr_rank AS BIGINT) AS nbr_rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS nbr_rank
      FROM scored)
WHERE nbr_rank <= 5
""",
    doc=(
        "Exact cosine top-5 via Arrow-batched GEMM "
        "(operators/similarity.py:gemm_topk) — the vectorized twin of "
        "similarity_topk: one numpy matrix multiply scores each Arrow "
        "batch against the broadcast query matrix at BLAS speed, each "
        "batch emits only its top (k+margin) candidates per query, and "
        "a tiny global window finishes the exact top-k. Same result "
        "set as the JVM fold-expression path (cosine rounded to 9 dp "
        "on both sides — numpy pairwise summation vs left-fold differ "
        "below the rounding grain). This is the 'Python when it wins' "
        "demonstrator: Arrow batches + BLAS beat per-pair scalar "
        "expression trees on wide-vector workloads, while the "
        "candidate bound keeps the Python emission O(k·|q|) per batch."
    ),
    tags=("similarity", "udf"),
)
def similarity_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.gemm_topk(emb, queries, k=5)


@register(
    "knn_label_classify",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
     c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
                  label FROM embeddings),
nbr AS (
  SELECT query_id, neighbor_id, label
  FROM (
    SELECT query_id, neighbor_id, label,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id
           ) AS nbr_rank
    FROM q, c
    WHERE query_id <> neighbor_id
  )
  WHERE nbr_rank <= 10
)
SELECT query_id, CAST(label AS INTEGER) AS pred_label,
       CAST(votes AS BIGINT) AS votes
FROM (
  SELECT query_id, label, count(*) AS votes,
         row_number() OVER (
           PARTITION BY query_id ORDER BY count(*) DESC, label
         ) AS vote_rank
  FROM nbr GROUP BY query_id, label
)
WHERE vote_rank = 1
""",
    doc=(
        "k-NN classification over the labeled embedding corpus: for each "
        "query vector, majority label among its exact cosine top-10 "
        "neighbors (smallest label wins vote ties — deterministic). The "
        "eval-time serving shape for a labeled corpus: the neighbor "
        "search is the broadcast-query brute_force_topk (corpus never "
        "self-joined), label lookup rides the SAME corpus row as the "
        "vector (no second join against the corpus), and the vote is a "
        "per-query aggregate over k rows. Output is integer-only "
        "(query_id, pred_label, votes) — no float in the hash; the "
        "cosine ranking underneath carries the same bit-identical "
        "left-fold guarantee as similarity_topk."
    ),
    tags=("similarity", "statml"),
)
def knn_label_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = io.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # brute_force_topk keeps only ids; re-attach labels by broadcasting
    # the k·|q|-row RESULT against the corpus label projection — the
    # corpus side stays partitioned (broadcasting (vec_id, label) for
    # the whole corpus would not survive 100 TB).
    nbrs = sim.brute_force_topk(emb, queries, k=10)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
    votes = (
        labels.join(F.broadcast(nbrs), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    vote_rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.desc("votes"), "label")
    )
    return (
        votes.withColumn("vote_rank", vote_rank)
        .filter(F.col("vote_rank") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "votes")
    )


@register(
    "similarity_lsh_topk",
    # The hyperplane tensor is DETERMINISTIC (sha256(t:p:j)-derived
    # literals, operators/similarity.py:_plane_component), so although
    # the operator is approximate w.r.t. brute force, it is exactly
    # replayable: DuckDB re-derives the same planes with its own
    # sha256, re-folds the same left-to-right dot products (list_reduce
    # seeds with x1, and 0.0+x1 == x1 bitwise), and re-ranks with the
    # same (cosine DESC, neighbor_id) tie-break. Recall@k vs brute
    # force is additionally pytest-checked.
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pl AS (
  SELECT t.t, p.p,
         list_transform(range(0, 64), j ->
           CAST(CAST('0x' || substr(sha256(t.t || ':' || p.p || ':' || j), 1, 16) AS UBIGINT) % 100003 AS DOUBLE)/100003.0 - 0.5) AS h
  FROM (SELECT UNNEST(range(0, 4)) AS t) t, (SELECT UNNEST(range(0, 8)) AS p) p
),
sb AS (
  SELECT e.vec_id, pl.t AS tbl,
         SUM(CASE WHEN list_reduce(list_transform(range(1, 65), j -> e.v[j]*pl.h[j]), (a,b) -> a+b) > 0
             THEN 1<<pl.p ELSE 0 END) AS bucket
  FROM e, pl GROUP BY e.vec_id, pl.t
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sb q JOIN sb c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
),
scored AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(qe.v, ce.v) AS cosine
  FROM cand JOIN e qe ON qe.vec_id = cand.query_id JOIN e ce ON ce.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(nbr_rank AS BIGINT) AS nbr_rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS nbr_rank
      FROM scored)
WHERE nbr_rank <= 5
""",
    doc=(
        "LSH (8 random-hyperplane sign bits × 4 OR-construction tables) "
        "bucketed cosine top-5: only same-bucket rows scored — the 100 TB "
        "path (bucket join instead of full scan per query)."
    ),
    tags=("similarity",),
)
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.lsh_topk(emb, queries, n_planes=8)


@register(
    "similarity_ivf_topk",
    # approximate w.r.t. brute force, but EXACTLY replayable given the
    # fitted model: the committed .models/ sidecar is the canonical
    # quantizer (both engines serve it), and the serving half —
    # argmin-L2 assignment, probe-cell selection, cosine, top-k — is
    # bit-deterministic left-fold arithmetic (the similarity_lsh_topk
    # discipline).  Recall@k vs brute force stays pytest-checked.
    oracle=lambda: sim.ivf_oracle_sql(io.correctness_sf_dir()),
    doc=(
        "IVF-Flat approximate cosine top-5: k-means coarse quantizer "
        "(DataFrame-native Lloyd, operators/similarity.py:kmeans_centroids) "
        "partitions the corpus into cells; each query scans only its 3 "
        "nearest cells. The Faiss-IVF shape re-expressed as two broadcast "
        "joins + one equi-join on cell id — at 100 TB the cell column "
        "doubles as the physical partition key. Fit/probe split: the "
        "quantizer is fit once per (dataset, params) via ivf_fit and "
        "published as a JSON sidecar (sidecars.py), so this "
        "query is assign-and-probe only after the first build — "
        "the ANN serving shape; no DataFrame is cached across calls."
    ),
    tags=("similarity",),
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    model = sim.ivf_fit(
        emb,
        n_cells=sim.IVF_CELLS,
        kmeans_iters=sim.IVF_KMEANS_ITERS,
        train_fraction=sim.IVF_TRAIN_FRACTION,
        dataset_key=sf_dir,
    )
    return sim.ivf_topk(emb, queries, n_probe=sim.IVF_PROBE, model=model)


@register(
    "dedup_embedding_cosine",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
b AS (SELECT vec_id, v,
             CAST(v[1] > 0 AS INT) * 8 + CAST(v[17] > 0 AS INT) * 4
             + CAST(v[33] > 0 AS INT) * 2 + CAST(v[49] > 0 AS INT) AS bucket
      FROM e)
SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       list_cosine_similarity(a.v, b2.v) AS cosine
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE list_cosine_similarity(a.v, b2.v) >= 0.3
""",
    doc=(
        "Embedding-cosine near-dup pairs: axis-aligned sign-bit LSH blocking "
        "(4 fixed components → 16 buckets, deterministic in any engine) cuts "
        "the pair space ~16×; exact cosine ≥ 0.3 verifies within buckets. "
        "The xxhash64 random-hyperplane variant (similarity_lsh_topk) is the "
        "higher-recall production path; this one is oracle-checkable."
    ),
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    bucket = (
        (F.element_at(v, 1) > 0).cast("int") * 8
        + (F.element_at(v, 17) > 0).cast("int") * 4
        + (F.element_at(v, 33) > 0).cast("int") * 2
        + (F.element_at(v, 49) > 0).cast("int")
    )
    b = emb.select(F.col("vec_id"), v.alias("v"), bucket.alias("bucket"))
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(
            c,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine_sim(F.col("a.v"), F.col("b.v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.3)
    )


@register(
    "text_lang_id",
    oracle=r"""
SELECT doc_id,
       CAST(list_contains(tk, 'the') AS INTEGER)
       + CAST(list_contains(tk, 'and') AS INTEGER)
       + CAST(list_contains(tk, 'of') AS INTEGER)
       + CAST(list_contains(tk, 'a') AS INTEGER)
       + CAST(list_contains(tk, 'to') AS INTEGER) AS en_score,
       CASE WHEN CAST(list_contains(tk, 'the') AS INTEGER)
               + CAST(list_contains(tk, 'and') AS INTEGER)
               + CAST(list_contains(tk, 'of') AS INTEGER)
               + CAST(list_contains(tk, 'a') AS INTEGER)
               + CAST(list_contains(tk, 'to') AS INTEGER) >= 2
            THEN 'en' ELSE 'und' END AS lang_pred
FROM (SELECT doc_id, list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '') AS tk
      FROM documents)
""",
    doc=(
        "Language-ID heuristic: stopword-profile scoring (the real-world "
        "n-gram-profile method reduced to a deterministic fixture-checkable "
        "rule). Row-local, zero shuffle."
    ),
    tags=("textan",),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    tk = tokens_nonempty(F.col("text"))
    score = sum(
        F.array_contains(tk, w).cast("int") for w in ["the", "and", "of", "a", "to"]
    )
    return docs.select(
        "doc_id",
        score.alias("en_score"),
        F.when(score >= 2, "en").otherwise("und").alias("lang_pred"),
    )


@register(
    "text_quality",
    oracle=r"""
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
       CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(tk, t -> CAST(length(t) AS BIGINT))), (a, x) -> a + x) AS DOUBLE) / len(tk) AS avg_token_len,
       (len(tk) BETWEEN 10 AND 10000 AND CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) >= 0.25) AS is_quality
FROM (SELECT doc_id, list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '') AS tk
      FROM documents)
WHERE len(tk) > 0
""",
    doc=(
        "Quality scoring: token counts, type-token ratio, mean token length, "
        "pass/fail flag — all row-local array folds (exact integer arithmetic "
        "until the final double division)."
    ),
    tags=("textan",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    docs = docs.select("doc_id", tokens_nonempty(F.col("text")).alias("tk")).filter(
        F.size("tk") > 0
    )
    n = F.size("tk").cast("long")
    nd = F.size(F.array_distinct("tk")).cast("long")
    total_len = F.aggregate(
        F.col("tk"), F.lit(0).cast("long"), lambda a, t: a + F.length(t).cast("long")
    )
    ttr = nd.cast("double") / n
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        nd.alias("n_distinct"),
        ttr.alias("ttr"),
        (total_len.cast("double") / n).alias("avg_token_len"),
        ((n >= 10) & (n <= 10000) & (ttr >= 0.25)).alias("is_quality"),
    )


@register(
    "text_token_count",
    oracle=r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '')) AS BIGINT) AS letter_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS bpe_ish_tokens
FROM documents
""",
    doc=(
        "Token counting three ways: whitespace split, letter-run (wc.go "
        "semantics), and a BPE-ish regex segmentation (lowercase runs / "
        "capitalized fragments / digit runs / single symbols)."
    ),
    tags=("textan",),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ", -1)).cast("long").alias("ws_tokens"),
        F.size(tokens_nonempty(F.col("text"))).cast("long").alias("letter_tokens"),
        F.size(
            F.expr(r"regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\\s]', 0)")
        )
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


@register(
    "text_fingerprint",
    oracle=r"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
FROM documents
""",
    doc=(
        "Document fingerprint: polynomial rolling hash (base 31 mod 1e9+7) "
        "folded left-to-right over characters — row-local, exact int64 "
        "arithmetic, engine-independent."
    ),
    tags=("textan",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    chars = F.split(F.col("text"), "")
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c).cast("long")) % 1000000007,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


# Shared by union_find_components (min-label propagation) and
# dedup_cluster_star (large-star/small-star): the oracle recomputes the
# same fixpoint via WITH RECURSIVE reachability, independent of which
# iterative algorithm Spark used — so BOTH algorithms earn hash-checked
# rows over identical expected output.
_COMPONENTS_ORACLE = r"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         array_to_string(tk[1:3], ' ') AS prefix,
         list_distinct(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' '))) AS s
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '') AS tk
        FROM documents)
  WHERE len(tk) >= 3
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.prefix = b.prefix AND a.doc_id < b.doc_id
  WHERE CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
),
comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT c.doc_id, c.cluster_id, s.cluster_size,
       CAST(c.doc_id = c.cluster_id AS BIGINT) AS keep
FROM comp c
JOIN (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY cluster_id) s USING (cluster_id)
"""


def _cluster_near_dups(spark: SparkSession, sf_dir: str, algorithm: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    pairs = _blocked_jaccard_pairs(docs).filter(F.col("jaccard") >= 0.5)
    comp = connected_components(
        pairs, "id_a", "id_b", id_out="doc_id", comp_out="cluster_id",
        algorithm=algorithm,
    )
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).cast("long").alias("keep"),
    )


@register(
    "union_find_components",
    oracle=_COMPONENTS_ORACLE,
    doc=(
        "Transitive near-dup clustering: the blocked 3-shingle Jaccard "
        "pairs (same deterministic pair source as dedup_ngram_jaccard, "
        "threshold 0.5) collapsed to connected components by iterative "
        "min-label propagation (operators/components.py) — O(diameter) "
        "shuffle rounds, lineage checkpointed per round, 1-scalar "
        "convergence action. Survivor = lowest doc_id per cluster "
        "(keep=1). The DuckDB oracle recomputes the fixpoint "
        "independently via WITH RECURSIVE reachability, so the whole "
        "iterative loop is hash-checked, not just pair discovery."
    ),
    tags=("dedup",),
)
def union_find_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cluster_near_dups(spark, sf_dir, "label")


@register(
    "dedup_cluster_star",
    oracle=_COMPONENTS_ORACLE,
    doc=(
        "Same near-dup clustering, computed by the alternating "
        "large-star/small-star algorithm (Kiveris et al. SoCC'14, "
        "operators/components.py:_star_components) — O(log n) rounds "
        "regardless of graph diameter, the scale path for chain-shaped "
        "template-spam graphs where min-label propagation needs "
        "O(diameter) shuffles. Identical expected output to "
        "union_find_components (same WITH RECURSIVE oracle); equality "
        "of the two algorithms additionally property-tested on a "
        "10k-node path graph in ≤ 2·log2(n)+4 rounds "
        "(tests/test_components.py)."
    ),
    tags=("dedup",),
)
def dedup_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cluster_near_dups(spark, sf_dir, "star")


def _pii_oracle() -> str:
    # Single source of truth: the SAME pattern strings the Spark-side
    # redact_pii applies (Java-regex ∩ RE2 subset) are spliced into the
    # DuckDB oracle, with 'g' for replace-all (Spark's default).
    from tda596_lab02mapreduce_spark.functions.text import PII_PATTERNS

    (em, em_t), (ip, ip_t), (ph, ph_t) = PII_PATTERNS
    sql = r"""
WITH enriched AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' at 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS raw
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(raw, '$EM', '$EMT', 'g'),
                                     '$IP', '$IPT', 'g'),
                      '$PH', '$PHT', 'g') AS clean,
       CAST(len(regexp_extract_all(raw, '$EM')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(regexp_replace(raw, '$EM', '$EMT', 'g'), '$IP')) AS BIGINT) AS n_ip,
       CAST(len(regexp_extract_all(regexp_replace(regexp_replace(raw, '$EM', '$EMT', 'g'), '$IP', '$IPT', 'g'), '$PH')) AS BIGINT) AS n_phone
FROM enriched
"""
    for k, v in (
        ("$EMT", em_t), ("$IPT", ip_t), ("$PHT", ph_t),
        ("$EM", em), ("$IP", ip), ("$PH", ph),
    ):
        sql = sql.replace(k, v)
    return sql


@register(
    "text_pii_redact",
    oracle=_pii_oracle(),
    doc=(
        "PII scrubbing — the redaction stage of an LLM training-data "
        "pipeline: emails, IPv4s, and phone fragments replaced with "
        "typed placeholders by a pure regexp_replace chain "
        "(functions/text.py:redact_pii — JVM-side, zero shuffle, no "
        "UDF), plus per-document match counts. The corpus text carries "
        "no PII, so each doc is deterministically enriched with "
        "doc_id-derived email/phone/IP on BOTH engines; the oracle "
        "re-applies the identical pattern strings, so placement, "
        "ordering, and replace-all semantics are all hash-checked."
    ),
    tags=("textan",),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.text import PII_PATTERNS, redact_pii

    docs = io.load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" at 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    (em, em_t), (ip, ip_t), (ph, _) = PII_PATTERNS
    enriched = docs.select("doc_id", raw.alias("raw"))
    after_em = F.regexp_replace(F.col("raw"), em, em_t)
    after_ip = F.regexp_replace(after_em, ip, ip_t)
    return enriched.select(
        "doc_id",
        redact_pii("raw").alias("clean"),
        F.regexp_count(F.col("raw"), F.lit(em)).cast("long").alias("n_email"),
        F.regexp_count(after_em, F.lit(ip)).cast("long").alias("n_ip"),
        F.regexp_count(after_ip, F.lit(ph)).cast("long").alias("n_phone"),
    )


@register(
    "vector_centroid_by_label",
    oracle="""
WITH long AS (
  SELECT label,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
)
SELECT label, dim,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(v ORDER BY v)),
                   (acc, x) -> acc + x) / count(*) AS centroid
FROM long
GROUP BY label, dim
""",
    doc=(
        "Per-label embedding centroid in long form (label, dim, mean) — "
        "the class-prototype/IVF-training primitive. Floating-point "
        "cross-row sums are order-sensitive, so both engines fold the "
        "group's values in SORTED order (array_sort + left-fold ≡ "
        "DuckDB list(ORDER BY) + list_reduce) — bit-identical by "
        "construction, no tolerance needed. Scale note: the ordered "
        "fold is the exact-match testing form; the production path is "
        "a plain partial+final sum/count (same shuffle shape, "
        "tolerance-compared)."
    ),
    tags=("similarity", "agg"),
)
def vector_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    long = emb.select("label", F.posexplode("embedding").alias("dim", "v"))
    grouped = long.groupBy("label", "dim").agg(
        F.array_sort(F.collect_list(F.col("v").cast("double"))).alias("vs")
    )
    total = F.aggregate("vs", F.lit(0.0), lambda acc, x: acc + x)
    return grouped.select(
        "label", "dim", (total / F.size("vs")).alias("centroid")
    )


@register(
    "embedding_quantize_int8",
    oracle="""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(
           list_prepend(CAST(0 AS DOUBLE), list_transform(v, x -> x * x)),
           (a, x) -> a + x)) AS nrm
  FROM base
),
long AS (
  SELECT vec_id, nrm,
         CAST(generate_subscripts(v, 1) - 1 AS INT) AS dim,
         unnest(v) AS x
  FROM n
)
SELECT vec_id, dim, CAST(round(x / nrm * 127, 0) AS INTEGER) AS q8
FROM long
""",
    doc=(
        "Int8 embedding quantization: L2-normalize, scale to [-127, "
        "127], round — the 4x storage/bandwidth compression step "
        "before ANN indexing at scale. Entirely row-local higher-order "
        "expressions, zero shuffle. Output is LONG FORM (vec_id, dim, "
        "q8) — posexploded rather than array<int>, because the driver "
        "harness canonicalizes results via pandas sort/hash, which "
        "cannot hash list cells (round-2 red row); every registered "
        "query must emit scalar top-level columns "
        "(tests/test_registry.py enforces this). Bit-exact across "
        "engines because every step is IEEE-correctly-rounded double "
        "math over an identical left-to-right fold order (the "
        "vector_centroid lesson); the round-boundary margin and the "
        "<=0.5/127 dequantization error bound are asserted in "
        "tests/test_dedup.py."
    ),
    tags=("similarity", "llm"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.vector import l2_norm

    emb = io.load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    nrm = l2_norm(F.col("embedding"))
    q = F.transform(v, lambda x: F.round(x / nrm * 127, 0).cast("int"))
    return emb.select("vec_id", F.posexplode(q).alias("dim", "q8"))


@register(
    "triangle_count_neardup",
    oracle=r"""
WITH sh AS (
  SELECT doc_id,
         array_to_string(tk[1:3], ' ') AS prefix,
         list_distinct(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' '))) AS s
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '') AS tk
        FROM documents)
  WHERE len(tk) >= 3
),
e AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM sh a JOIN sh b ON a.prefix = b.prefix AND a.doc_id < b.doc_id
  WHERE CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) >= 0.5
),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM e e1 JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_triangles
FROM (SELECT unnest([x, y, z]) AS id FROM tri) t
GROUP BY id
""",
    doc=(
        "Per-document triangle participation over the near-dup "
        "similarity graph (same blocked 3-shingle Jaccard >= 0.5 pair "
        "source as union_find_components / pagerank_neardup_hubs) — "
        "the local-clustering signal that separates dense template/"
        "boilerplate families (every pair similar => many triangles) "
        "from chain-shaped incidental overlap. Algorithm: compact-"
        "forward / degree-ordered closure — edges are oriented from "
        "the (degree, id)-smaller endpoint, 2-paths are enumerated "
        "only from each node's ordered adjacency, and the closing "
        "edge is checked with one more equi-join, so every triangle "
        "is found exactly once and the 2-path fan-out is bounded by "
        "O(m^1.5) (Latapy 2008; the standard MapReduce triangle "
        "recipe) instead of the naive sum of deg^2. Three equi-joins, "
        "no cartesian; the per-node rollup is one explode+count. The "
        "naive unordered 3-way join the oracle runs is the semantic "
        "spec, not the plan."
    ),
    tags=("dedup", "graph", "llm"),
)
def triangle_count_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    # The edge list is referenced 4x below (degrees, orientation, both
    # closure sides); without materialization Catalyst re-runs the
    # shingle self-join per reference (measured: 40 Exchanges -> 10).
    # localCheckpoint keeps only the tiny (a, b) pair list — the
    # standard shape: candidate generation once, graph passes many.
    edges = (
        _blocked_jaccard_pairs(docs)
        .filter(F.col("jaccard") >= 0.5)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.explode(F.array("a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient every edge from the (deg, id)-smaller endpoint: u -> v
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b"))
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        edges.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    paths = e1.join(
        e2, (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v"))
    ).select(
        F.col("e1.u").alias("x"),
        F.col("e1.v").alias("y"),
        F.col("e2.v").alias("z"),
    )
    # closing edge between y and z in canonical (a < b) form
    canon = edges.select(
        F.least("a", "b").alias("ca"), F.greatest("a", "b").alias("cb")
    )
    tri = paths.join(
        canon,
        (F.least("y", "z") == F.col("ca")) & (F.greatest("y", "z") == F.col("cb")),
        "left_semi",
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def _pagerank_oracle() -> str:
    """Unrolled SQL replay of operators/pagerank.py's fixed-round
    integer-micro-unit iteration (rank in exact 1e-6 BIGINT units,
    shares half-up-quantized to 1e-8 units, integer sums — zero
    floating point in the loop, so DuckDB reproduces Spark
    bit-for-bit by construction).  Unrolled rather than WITH
    RECURSIVE because the round count is FIXED and plain CTE stages
    dodge every engine's recursive-aggregate restrictions."""
    from tda596_lab02mapreduce_spark.operators.pagerank import (
        DAMPING_PCT,
        PAGERANK_ROUNDS,
    )

    base_u = (100 - DAMPING_PCT) * 10_000
    stages = [
        "pr0 AS (SELECT id, deg, CAST(1000000 AS BIGINT) AS rank_u FROM deg)"
    ]
    for i in range(1, PAGERANK_ROUNDS + 1):
        stages.append(
            f"""pr{i} AS (
  SELECT d.id, d.deg,
         CAST({base_u} + ({2 * DAMPING_PCT} * m.in_mass_e8 + 10000) // 20000 AS BIGINT) AS rank_u
  FROM (SELECT e.dst AS id,
               SUM((200 * p.rank_u + p.deg) // (2 * p.deg)) AS in_mass_e8
        FROM pr{i - 1} p JOIN e ON e.src = p.id GROUP BY e.dst) m
  JOIN deg d ON d.id = m.id
)"""
        )
    return (
        r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' '))) AS s
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '') AS tk
        FROM documents)
  WHERE len(tk) >= 3
),
ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
rare AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 50),
exr AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN rare USING (shingle)),
p AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM exr a JOIN exr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY u, v
  HAVING count(*) >= 2
),
e AS (SELECT u AS src, v AS dst FROM p UNION ALL SELECT v, u FROM p),
deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
"""
        + ",\n".join(stages)
        + f"\nSELECT id AS doc_id, CAST(rank_u AS DOUBLE) / 1000000.0 AS rank FROM pr{PAGERANK_ROUNDS}"
    )


@register(
    "pagerank_neardup_hubs",
    oracle=_pagerank_oracle(),
    doc=(
        "PageRank over the shared-shingle similarity graph: docs are "
        "linked when they share >= 2 distinct 3-shingles drawn from "
        "DF-CAPPED posting lists (shingles in > 50 docs are dropped — "
        "the standard inverted-index candidate-generation bound, so "
        "per-shingle pair fan-out is O(cap²) and total work stays "
        "linear in corpus shingles at 100 TB). Rank exposes the HUB "
        "documents — boilerplate/template sources with many near-"
        "copies — which is how cluster canonicals or spam families "
        "get picked at corpus scale. (Round 8 swapped the pair source "
        "from the prefix-blocked Jaccard graph, whose fixture "
        "components are all degree-regular — every rank exactly 1.0, "
        "a vacuous oracle; this graph has 17+ distinct degrees at "
        "sf0.01.) Fixed 10 power-iteration rounds (operators/"
        "pagerank.py): edge list checkpointed pre-partitioned, degree "
        "carried with the rank state so each round is one join+agg, "
        "lineage lazily checkpointed every 3 rounds, zero driver actions in "
        "the loop. Hash-checked since round 8: the iteration runs in "
        "exact integer micro-units (no floating point in the loop — "
        "see operators/pagerank.py for why the rounded-doubles "
        "variant is unsound), and the oracle replays the identical "
        "unrolled recursion in DuckDB (VERDICT r7 task 3)."
    ),
    tags=("dedup", "llm", "graph"),
)
def pagerank_neardup_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.operators.pagerank import pagerank

    docs = io.load(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", tokens_nonempty(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 3)
    ex = toked.select(
        "doc_id",
        F.explode(F.array_distinct(ngram_shingles(F.col("toks"), 3))).alias(
            "shingle"
        ),
    )
    # ex feeds THREE subplans (the df aggregate + both self-join
    # sides): checkpoint so tokenize + shingle-build runs once, and the
    # self-join sides become identical checkpoint scans whose exchanges
    # ReuseExchange dedups (optimization r16, guide §1.2/§2.4; measured
    # pair-source 2.84 s → 2.46 s at sf0.1). Storage is DISK_ONLY
    # (optimization r17, guide §5): a doc×shingle EXPLODED stream held
    # deserialized on the heap is exactly the humongous-allocation
    # profile behind the documented bimodal stall (this query read
    # 5.77 s and 13.88 s on identical code in the r17 session
    # baselines); serialized disk blocks take that pressure off the
    # old gen. Fresh-JVM A/B (bench's isolated protocol, 3 cold runs):
    # heap 7.38/5.83/7.52 s vs disk 6.25/6.31/6.72 s — disk 2/3 and
    # the better mean (6.43 vs 6.91 s).
    from pyspark.storagelevel import StorageLevel

    ex = ex.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    rare = (
        ex.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 50)
        .select("shingle")
    )
    exr = ex.join(rare, "shingle").localCheckpoint(
        eager=False, storageLevel=StorageLevel.DISK_ONLY
    )
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


@register(
    "graph_reach_recursive",
    oracle=r"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         array_to_string(tk[1:3], ' ') AS prefix,
         list_distinct(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' '))) AS s
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '') AS tk
        FROM documents)
  WHERE len(tk) >= 3
),
p AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM sh a JOIN sh b ON a.prefix = b.prefix AND a.doc_id < b.doc_id
  WHERE CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) >= 0.5
),
e AS (SELECT u AS src, v AS dst FROM p UNION ALL SELECT v, u FROM p),
reach AS (
  SELECT src, dst, 1 AS depth FROM e
  UNION ALL
  SELECT r.src, e.dst, r.depth + 1
  FROM reach r JOIN e ON e.src = r.dst
  WHERE r.depth < 3 AND e.dst <> r.src
)
SELECT src, dst, CAST(min(depth) AS BIGINT) AS min_hops
FROM reach WHERE src < dst
GROUP BY src, dst
""",
    doc=(
        "Depth-bounded transitive reachability over the near-dup "
        "similarity graph via a RECURSIVE CTE — Spark 4's declarative "
        "iterative-plan surface, so the fixpoint loop that "
        "union_find_components drives from Python (operators/"
        "components.py) here lives entirely inside one Catalyst plan. "
        "Spark runs the IDENTICAL recursion (seed = symmetric edges, "
        "step = one-hop extension, cycle-safe via the depth<=3 bound "
        "and no-backtrack guard) over the same blocked-Jaccard pair "
        "source as triangle/pagerank/union_find; min-hop aggregation "
        "collapses the path multiset. At 100 TB each recursion round "
        "is one equi-join shuffle keyed on the frontier — same cost "
        "shape as the hand-driven loop, minus the driver round-trips; "
        "the depth bound caps the frontier blowup exactly like the "
        "fixed-round PageRank contract."
    ),
    tags=("graph", "dedup", "subquery"),
)
def graph_reach_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    pairs = _blocked_jaccard_pairs(docs).filter(F.col("jaccard") >= 0.5)
    edges = (
        pairs.selectExpr("id_a AS src", "id_b AS dst")
        .unionAll(pairs.selectExpr("id_b AS src", "id_a AS dst"))
        # The recursion references the edge view in the seed AND in
        # every iteration step; without materialization each round
        # re-runs the full blocked-Jaccard corpus pass (measured 4.0 s
        # -> 1.3 s at sf0.1). Same candidate-once/graph-passes-many
        # shape as triangle_count_neardup.
        .localCheckpoint(eager=True)
    )
    edges.createOrReplaceTempView("__nd_edges")
    return spark.sql(
        """
WITH RECURSIVE reach AS (
  SELECT src, dst, 1 AS depth FROM __nd_edges
  UNION ALL
  SELECT r.src, e.dst, r.depth + 1
  FROM reach r JOIN __nd_edges e ON e.src = r.dst
  WHERE r.depth < 3 AND e.dst <> r.src
)
SELECT src, dst, CAST(min(depth) AS BIGINT) AS min_hops
FROM reach WHERE src < dst
GROUP BY src, dst
"""
    )


@register(
    "dedup_cluster_survivors",
    oracle=r"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         array_to_string(tk[1:3], ' ') AS prefix,
         list_distinct(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' '))) AS s
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '') AS tk
        FROM documents)
  WHERE len(tk) >= 3
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.prefix = b.prefix AND a.doc_id < b.doc_id
  WHERE CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
),
comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
labeled AS (
  SELECT d.doc_id, d.n_chars, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
                               ORDER BY n_chars DESC, doc_id) AS rk
  FROM labeled
)
SELECT cluster_id,
       doc_id AS survivor_id,
       CAST((SELECT count(*) FROM labeled l WHERE l.cluster_id = ranked.cluster_id) AS BIGINT) AS cluster_size,
       CAST(n_chars AS BIGINT) AS survivor_chars
FROM ranked WHERE rk = 1
""",
    doc=(
        "The production dedup DECISION end-to-end: near-dup pairs -> "
        "transitive clusters (iterative min-label components, "
        "operators/components.py) -> one survivor per cluster chosen "
        "by QUALITY (longest document, doc_id tiebreak) rather than "
        "the naive min-id — the policy that keeps the best copy of a "
        "template family instead of an arbitrary one. Docs in no pair "
        "survive as their own singleton cluster via a left join + "
        "coalesce, so the output is exactly the post-dedup corpus "
        "roster. The DuckDB oracle recomputes the ENTIRE pipeline — "
        "recursive fixpoint, singleton fill, quality argmax — so the "
        "composed decision is hash-checked, not just the parts. Scale: "
        "survivor choice is a WindowGroupLimit-shaped top-1 per "
        "cluster; everything shuffles on cluster_id once."
    ),
    tags=("dedup", "llm"),
)
def dedup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = io.load(spark, sf_dir, "documents")
    pairs = _blocked_jaccard_pairs(docs).filter(F.col("jaccard") >= 0.5)
    comp = connected_components(
        pairs, "id_a", "id_b", id_out="doc_id", comp_out="cluster_id"
    )
    labeled = (
        docs.select("doc_id", "n_chars")
        .join(comp, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labeled.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .join(sizes, "cluster_id")
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_id"),
            "cluster_size",
            F.col("n_chars").cast("long").alias("survivor_chars"),
        )
    )


# ---------------------------------------------------------------------------
# MMR diversity re-ranking (round-6 widening)
# ---------------------------------------------------------------------------

_MMR_QUERIES = 5  # vec_id < 5 probe set
_MMR_CAND = 10    # relevance top-k candidate pool per query
_MMR_STEPS = 5    # re-ranked results emitted per query


def _mmr_oracle() -> str:
    """The greedy MMR selection UNROLLED step by step (no recursion —
    per-step argmax with an aggregate over the growing selected set is
    awkward in a recursive CTE but trivial as a generated CTE chain;
    the Spark side unrolls the same way, so both engines execute the
    identical selection program)."""
    steps = []
    union = "sel1"
    steps.append("""
sel1 AS (
  SELECT query_id, vec_id, 1 AS step, 0.7 * rel AS mmr FROM (
    SELECT cand.*, row_number() OVER (PARTITION BY query_id
                                      ORDER BY rel DESC, vec_id) AS rk
    FROM cand) t
  WHERE rk = 1
)""")
    for s in range(2, _MMR_STEPS + 1):
        prev = f"selu{s - 1}" if s > 2 else "sel1"
        steps.append(f"""
sel{s} AS (
  SELECT query_id, vec_id, {s} AS step, mmr FROM (
    SELECT c.query_id, c.vec_id,
           0.7 * c.rel - 0.3 * m.mx AS mmr,
           row_number() OVER (PARTITION BY c.query_id
                              ORDER BY (0.7 * c.rel - 0.3 * m.mx) DESC,
                                       c.vec_id) AS rk
    FROM cand c
    JOIN (SELECT p.query_id, p.a_id, max(p.sim) AS mx
          FROM pair p JOIN {prev} s ON p.query_id = s.query_id
                                   AND p.b_id = s.vec_id
          GROUP BY p.query_id, p.a_id) m
      ON c.query_id = m.query_id AND c.vec_id = m.a_id
    WHERE NOT EXISTS (SELECT 1 FROM {prev} s2
                      WHERE s2.query_id = c.query_id
                        AND s2.vec_id = c.vec_id)
  ) t
  WHERE rk = 1
),
selu{s} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM sel{s})""")
        union = f"selu{s}"
    return f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {_MMR_QUERIES}),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
cand AS (
  SELECT query_id, vec_id, rel, cv FROM (
    SELECT q.query_id, c.vec_id,
           list_cosine_similarity(qv, cv) AS rel, c.cv,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY list_cosine_similarity(qv, cv) DESC,
                                       c.vec_id) AS rk
    FROM q, c WHERE q.query_id <> c.vec_id) t
  WHERE rk <= {_MMR_CAND}
),
pair AS (
  SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
         list_cosine_similarity(a.cv, b.cv) AS sim
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
),
{",".join(steps)}
SELECT query_id, vec_id, step, mmr FROM {union}
"""


@register(
    "similarity_mmr_rerank",
    oracle=_mmr_oracle(),
    doc=(
        "Maximal Marginal Relevance re-ranking (Carbonell-Goldstein): "
        "from each query's cosine top-10 candidate pool, greedily pick "
        "5 results maximizing 0.7*relevance - 0.3*max-similarity-to-"
        "already-picked — the diversity-aware retrieval pass that keeps "
        "an eval set (or dedup survivor pool) from being k near-copies "
        "of the same document. The greedy loop is UNROLLED into 5 "
        "DataFrame steps over the localCheckpointed candidate tables "
        "(50 relevance rows + 450 pair sims — without the checkpoint "
        "each step's plan re-runs the corpus top-k scan); the oracle "
        "unrolls the identical program in SQL, and every cosine on "
        "both sides is the bit-identical left-fold, so the float "
        "argmaxes agree exactly. At 100 TB the candidate pools stay "
        "k·|q|-sized — the corpus is touched once, by the top-k pass."
    ),
    tags=("similarity", "llm"),
)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.vector import cosine_sim
    from tda596_lab02mapreduce_spark.operators import similarity as sim

    emb = io.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _MMR_QUERIES)
    topk = sim.brute_force_topk(emb, queries, k=_MMR_CAND).select(
        "query_id", F.col("neighbor_id").alias("vec_id"), F.col("cosine").alias("rel")
    )
    vecs = emb.select("vec_id", F.col("embedding").alias("cv"))
    cand = (
        topk.join(vecs, "vec_id")
        .select("query_id", "vec_id", "rel", "cv")
        .localCheckpoint(eager=True)
    )
    a = cand.select("query_id", F.col("vec_id").alias("a_id"), F.col("cv").alias("av"))
    b = cand.select("query_id", F.col("vec_id").alias("b_id"), F.col("cv").alias("bv"))
    pair = (
        a.join(b, "query_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "query_id",
            "a_id",
            "b_id",
            cosine_sim(F.col("av"), F.col("bv")).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    cand_slim = cand.select("query_id", "vec_id", "rel")

    from pyspark.sql.window import Window

    w1 = Window.partitionBy("query_id").orderBy(F.desc("rel"), "vec_id")
    sel = (
        cand_slim.withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") == 1)
        .select(
            "query_id",
            "vec_id",
            F.lit(1).alias("step"),
            (F.lit(0.7) * F.col("rel")).alias("mmr"),
        )
    )
    for s in range(2, _MMR_STEPS + 1):
        picked = sel.select("query_id", F.col("vec_id").alias("b_id"))
        mx = (
            pair.join(picked, ["query_id", "b_id"])
            .groupBy("query_id", "a_id")
            .agg(F.max("sim").alias("mx"))
        )
        score = F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.col("mx")
        ws = Window.partitionBy("query_id").orderBy(score.desc(), "vec_id")
        nxt = (
            cand_slim.alias("c")
            .join(
                mx.alias("m"),
                (F.col("c.query_id") == F.col("m.query_id"))
                & (F.col("c.vec_id") == F.col("m.a_id")),
            )
            .select(
                F.col("c.query_id").alias("query_id"),
                F.col("c.vec_id").alias("vec_id"),
                F.col("c.rel").alias("rel"),
                F.col("m.mx").alias("mx"),
            )
            .join(
                sel.select(
                    F.col("query_id").alias("__sq"), F.col("vec_id").alias("__sv")
                ),
                (F.col("query_id") == F.col("__sq"))
                & (F.col("vec_id") == F.col("__sv")),
                "left_anti",
            )
            .withColumn("rk", F.row_number().over(ws))
            .filter(F.col("rk") == 1)
            .select(
                "query_id",
                "vec_id",
                F.lit(s).alias("step"),
                (F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.col("mx")).alias("mmr"),
            )
        )
        sel = sel.unionByName(nxt)
    return sel


@register(
    "vector_dim_stats",
    oracle="""
WITH long AS (
  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
g AS (
  SELECT dim, list(v ORDER BY v) AS vs, CAST(count(*) AS BIGINT) AS n
  FROM long GROUP BY dim
),
s AS (
  SELECT dim, n,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs),
                     (a, x) -> a + x) AS s1,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list_transform(vs, x -> x * x)),
                     (a, x) -> a + x) AS s2
  FROM g
)
SELECT dim, n,
       s1 / CAST(n AS DOUBLE) AS mean,
       sqrt((s2 - (s1 * s1) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) AS std
FROM s
""",
    doc=(
        "Per-dimension corpus statistics of the embedding column — the "
        "whitening/standardization parameters (mean, population std "
        "per dim) every feature-normalization pass fits before "
        "training or indexing. Same exact-match discipline as "
        "vector_centroid_by_label: float cross-row sums fold in "
        "SORTED order on both engines (the squares fold walks the "
        "identically-sorted list), and the variance/std tail is one "
        "identically-shaped expression whose only irrational op is "
        "IEEE-exact sqrt. One posexplode + one dim-keyed shuffle; the "
        "production path at open scale swaps the ordered fold for a "
        "plain partial+final sum (same shuffle shape)."
    ),
    tags=("similarity", "agg", "stats"),
)
def vector_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    long = emb.select(F.posexplode("embedding").alias("dim", "v"))
    g = long.groupBy("dim").agg(
        F.array_sort(F.collect_list(F.col("v").cast("double"))).alias("vs"),
        F.count(F.lit(1)).alias("n"),
    )
    s1 = F.aggregate("vs", F.lit(0.0), lambda acc, x: acc + x)
    s2 = F.aggregate(
        F.transform("vs", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    nd = F.col("n").cast("double")
    return g.select(
        "dim",
        "n",
        (s1 / nd).alias("mean"),
        F.sqrt((s2 - (s1 * s1) / nd) / nd).alias("std"),
    )


@register(
    "embedding_centroid_outliers",
    oracle="""
WITH long AS (
  SELECT vec_id, label,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
), cent AS (
  SELECT label, dim,
         CAST(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                             list(v ORDER BY v)),
                                (acc, x) -> acc + x) / count(*), 6)
              AS DOUBLE) AS c
  FROM long GROUP BY label, dim
), dists AS (
  SELECT l.vec_id, l.label,
         CAST(round(sqrt(list_reduce(
                 list_prepend(CAST(0.0 AS DOUBLE),
                              list((l.v - c.c) * (l.v - c.c) ORDER BY l.dim)),
                 (acc, x) -> acc + x)), 6) AS DOUBLE) AS dist_r
  FROM long l JOIN cent c ON l.label = c.label AND l.dim = c.dim
  GROUP BY l.vec_id, l.label
), stats AS (
  SELECT label,
         SUM(CAST(round(dist_r, 6) AS DECIMAL(18,6))) AS s1,
         SUM(CAST(round(dist_r * dist_r, 6) AS DECIMAL(18,6))) AS s2,
         CAST(count(*) AS BIGINT) AS n
  FROM dists GROUP BY label
), mu AS (
  SELECT label, CAST(s1 AS DOUBLE) / n AS mean,
         sqrt((CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n) AS sd
  FROM stats
)
SELECT d.vec_id, d.label, d.dist_r,
       CAST(round((d.dist_r - m.mean) / m.sd, 4) AS DOUBLE) AS z_r,
       CAST((d.dist_r - m.mean) / m.sd > 2.5 AS BOOLEAN) AS is_outlier
FROM dists d JOIN mu m ON d.label = m.label
""",
    doc=(
        "Embedding-QA outlier screen: per-vector L2 distance to its "
        "label centroid, z-scored within the label — the standard "
        "mislabeled/edge-vector detector before index build or "
        "classifier training. (A plain NORM screen is degenerate "
        "here: the corpus is unit-normalized, every norm is 1 — "
        "caught when sd=0 divided by zero, the check that motivated "
        "distance-to-centroid instead.) Float discipline throughout: "
        "centroid = sorted cross-row fold (vector_centroid_by_label's "
        "exact-match form) rounded to 6 dp; per-vector distance = "
        "dim-ordered fold of squared residuals; label moments = exact "
        "decimal sums of rounded distances. Plan: one posexplode, a "
        "(label,dim) aggregate broadcast back onto the long table, a "
        "per-vector rollup, and a 5-row moment join — all keyed, "
        "payloads never duplicated."
    ),
    tags=("similarity", "stats", "llm", "quality"),
)
def embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    long = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "v")
    ).withColumn("v", F.col("v").cast("double"))
    cent = (
        long.groupBy("label", "dim")
        .agg(F.array_sort(F.collect_list("v")).alias("vs"))
        .select(
            "label",
            "dim",
            F.round(
                F.aggregate("vs", F.lit(0.0), lambda a, x: a + x) / F.size("vs"), 6
            ).alias("c"),
        )
    )
    sq = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", (F.col("v") - F.col("c")) ** 2))),
            lambda s: s.getField("col2"),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    dists = (
        long.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(F.round(F.sqrt(sq), 6).alias("dist_r"))
    )
    stats = dists.groupBy("label").agg(
        F.sum(F.round(F.col("dist_r"), 6).cast("decimal(18,6)")).alias("s1"),
        F.sum(F.round(F.col("dist_r") * F.col("dist_r"), 6).cast("decimal(18,6)")).alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    mu = stats.select(
        "label",
        (F.col("s1").cast("double") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("s2").cast("double")
             - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n"))
            / F.col("n")
        ).alias("sd"),
    )
    z = (F.col("dist_r") - F.col("mean")) / F.col("sd")
    return dists.join(F.broadcast(mu), "label").select(
        "vec_id",
        "label",
        "dist_r",
        F.round(z, 4).alias("z_r"),
        (z > 2.5).alias("is_outlier"),
    )


@register(
    "dedup_cluster_report",
    oracle=r"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         array_to_string(tk[1:3], ' ') AS prefix,
         list_distinct(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' '))) AS s
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '') AS tk
        FROM documents)
  WHERE len(tk) >= 3
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.prefix = b.prefix AND a.doc_id < b.doc_id
  WHERE CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
),
comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY cluster_id),
hist AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         FROM sizes GROUP BY cluster_size),
singleton AS (
  SELECT CAST(1 AS BIGINT) AS cluster_size,
         (SELECT count(*) FROM documents)
           - COALESCE((SELECT SUM(cluster_size) FROM sizes), 0) AS n_clusters
)
SELECT cluster_size, n_clusters,
       cluster_size * n_clusters AS n_docs,
       (cluster_size - 1) * n_clusters AS n_removed
FROM (SELECT * FROM hist UNION ALL
      SELECT cluster_size, CAST(n_clusters AS BIGINT) FROM singleton)
WHERE n_clusters > 0
""",
    doc=(
        "Corpus-level dedup report: the near-dup cluster-size "
        "histogram (same blocked-Jaccard pair source and connected-"
        "components fixpoint as union_find_components), EXTENDED with "
        "the singleton row — documents in no pair never enter the "
        "component computation, so the report derives their count "
        "arithmetically (total − Σ cluster sizes) instead of paying an "
        "anti-join against the full corpus.  Per size: cluster count, "
        "documents covered, and documents a keep-one-per-cluster "
        "policy would remove — the one-page summary a 100 TB dedup "
        "run ships to decide whether the threshold is eating the "
        "corpus.  All integer arithmetic; the histogram grain is "
        "O(max cluster size) rows."
    ),
    tags=("dedup", "agg", "llm"),
)
def dedup_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    pairs = _blocked_jaccard_pairs(docs).filter(F.col("jaccard") >= 0.5)
    comp = connected_components(
        pairs, "id_a", "id_b", id_out="doc_id", comp_out="cluster_id",
        algorithm="label",
    )
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    )
    # singleton row: total docs minus docs captured by any component —
    # two 1-row broadcast aggregates, never a corpus-wide anti-join
    totals = docs.agg(F.count(F.lit(1)).alias("__n_total"))
    covered = sizes.agg(
        F.coalesce(F.sum("cluster_size"), F.lit(0)).alias("__n_cov")
    )
    singleton = (
        totals.crossJoin(F.broadcast(covered))
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            (F.col("__n_total") - F.col("__n_cov")).cast("bigint").alias("n_clusters"),
        )
    )
    return (
        hist.unionByName(singleton)
        .filter(F.col("n_clusters") > 0)
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias("n_removed"),
        )
    )


@register(
    "dedup_ppjoin_pairs",
    oracle=r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' '))) AS s
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '') AS tk
        FROM documents)
  WHERE len(tk) >= 3
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
               / (len(a.s) + len(b.s)
                  - len(list_filter(a.s, x -> list_contains(b.s, x)))), 6) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
) t WHERE jaccard >= 0.5
""",
    doc=(
        "EXACT all-pairs set-similarity join via prefix + positional "
        "filtering (PPJoin, Xiao et al. WWW'08): unlike the "
        "first-3-token blocking of dedup_ngram_jaccard (a recall "
        "heuristic over the SAME 3-shingle space) or the probabilistic "
        "MinHash bands, this finds EVERY pair with Jaccard ≥ t=0.5 — "
        "the oracle is the brute-force all-pairs SPEC, so the hash "
        "check proves exactness, not just agreement.  The algorithm: "
        "order the shingle universe rarest-first ((df, shingle) IS the "
        "canonical total order — no rank value is ever materialized), "
        "keep each document's first |s| − ⌈t·|s|⌉ + 1 shingles in that "
        "order (any pair with J ≥ t must share a prefix shingle, since "
        "|x∩y| ≥ t·|x|), generate candidates by an EQUI-join on prefix "
        "shingles with BOTH classic bounds pushed into the join — the "
        "length bound t·|x| ≤ |y| ≤ |x|/t and the positional upper "
        "bound 1 + min(|x|−p_x, |y|−p_y) ≥ ⌈t/(1+t)·(|x|+|y|)⌉ (an "
        "occurrence at prefix positions p_x, p_y cannot reach the "
        "required overlap if too little suffix remains) — then verify "
        "exact Jaccard on the full sets for candidates only.  Per-doc "
        "prefix positions use a doc_id-keyed window — bounded by "
        "document size, the scalable kind of keyed window.  Shingle "
        "width matters: 2-shingles over this 31-word vocabulary "
        "collide so heavily the filter degrades toward quadratic "
        "(measured 5.5M candidates); the registered 3-shingle space "
        "yields ~125k candidates for ~5k docs at sf0.1, and on a "
        "natural open vocabulary the prefix filter is sharper still."
    ),
    tags=("dedup", "join", "text", "llm"),
)
def dedup_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    T = 0.5
    docs = io.load(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", tokens_nonempty("text").alias("tk")
    ).filter(F.size("tk") >= 3)
    sets = tk.select(
        "doc_id",
        F.array_distinct(ngram_shingles(F.col("tk"), 3)).alias("s"),
    ).withColumn("sz", F.size("s"))

    exploded = sets.select("doc_id", "sz", F.explode("s").alias("g"))
    freq = exploded.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    pos_w = Window.partitionBy("doc_id").orderBy("df", "g")
    prefix = (
        exploded.join(freq, "g")
        .withColumn("__pos", F.row_number().over(pos_w))
        .filter(
            F.col("__pos") <= F.col("sz") - F.ceil(F.lit(T) * F.col("sz")) + 1
        )
        .select("doc_id", "sz", F.col("__pos").alias("pos"), "g")
    )
    a = prefix.select(
        F.col("doc_id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.col("pos").alias("p_a"),
        "g",
    )
    b = prefix.select(
        F.col("doc_id").alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("pos").alias("p_b"),
        "g",
    )
    # required overlap for J >= T: i >= T/(1+T) * (|x| + |y|)
    alpha = F.ceil((F.col("sz_a") + F.col("sz_b")) * F.lit(T / (1 + T)))
    cand = (
        a.join(b, "g")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_b") >= F.lit(T) * F.col("sz_a"))
            & (F.col("sz_a") >= F.lit(T) * F.col("sz_b"))
            & (
                1
                + F.least(
                    F.col("sz_a") - F.col("p_a"), F.col("sz_b") - F.col("p_b")
                )
                >= alpha
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("s_a"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    jac = inter.cast("double") / (
        F.size("s_a") + F.size("s_b") - inter
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= T)
        .select("id_a", "id_b", "jaccard")
    )


def _pq_refine(sf_dir: str) -> int:
    """The corpus-scaled exact-re-rank budget max(50, 3·isqrt(n)) —
    shared by the Spark serve and the oracle replay, computed from
    parquet footer metadata (no Spark job). Calibration: the r15 ANN
    band (tools/scale_stress.py band 'ann')."""
    import glob
    import math
    import os

    import pyarrow.parquet as pq

    p = f"{sf_dir}/embeddings.parquet"
    files = [p] if os.path.isfile(p) else sorted(glob.glob(f"{p}/*.parquet"))
    n = sum(pq.read_metadata(f).num_rows for f in files)
    return max(50, 3 * math.isqrt(n))


@register(
    "similarity_pq_topk",
    # approximate w.r.t. exact search, but EXACTLY replayable given the
    # fitted codebooks: the committed .models/ sidecar is canonical,
    # and encoding/ADC/refine are deterministic (numpy's ≤8-element
    # folds degenerate to the same sequential left fold DuckDB's
    # list_reduce computes).  Recall@5 floor stays pytest-checked.
    oracle=lambda: sim.pq_oracle_sql(
        io.correctness_sf_dir(), refine=_pq_refine(io.correctness_sf_dir())
    ),
    doc=(
        "Product-quantization ANN top-5 with an exact refine stage "
        "(Jégou et al. TPAMI'11 + Faiss IndexRefine shape, "
        "operators/similarity.py:pq_fit/pq_topk): 16 subspace "
        "codebooks of 16 codes compress each 64-dim vector to 16 "
        "small ints (8× memory vs floats — at 100 TB the difference "
        "between an index that fits and one that doesn't), queries "
        "score the codes via broadcast per-query lookup tables (O(m) "
        "per pair, map-only), and the ADC shortlist is re-ranked by "
        "exact L2 over only q×refine joined-back vectors.  The refine "
        "budget SCALES with the corpus: max(50, 3·isqrt(n)) — the r15 "
        "ANN-recall band measured a FIXED 50-candidate budget decaying "
        "0.94 → 0.78 → 0.64 recall@5 at sf0.01 → sf0.1 → 10× (the "
        "isotropic fixture is PQ's worst case: quantization error "
        "dominates neighbor gaps, so more corpus = more ADC impostors "
        "per slot), while 3√n holds ≥0.85 at every measured scale at "
        "sublinear re-rank cost (q×3√n exact distances, vs the q×0.05n "
        "a linear fraction would cost at 100 TB).  Codebooks fit "
        "in-memory on a bounded deterministic sample and published "
        "through the ivf_fit sidecar store — fit-once/serve-many.  "
        "Recall@5 floor asserted in tests/test_dedup.py, "
        "staging-parameterized via SPARK_GRAFT_ANN_DIR; rows-only by "
        "the seeded/approximate contract."
    ),
    tags=("similarity",),
)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    model = sim.pq_fit(emb, m=sim.PQ_M, dataset_key=sf_dir)
    return sim.pq_topk(emb, queries, model=model, refine=_pq_refine(sf_dir))


@register(
    "dedup_substring_spans",
    oracle=r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id, unnest(range(1, len(tk) - 6)) AS pos, tk
  FROM tok WHERE len(tk) >= 8
), g AS (
  SELECT doc_id, pos, array_to_string(tk[pos:pos+7], ' ') AS g FROM sh
), dup AS (
  SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2
), p AS (
  SELECT doc_id, pos FROM g JOIN dup USING (g)
), l AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS brk
  FROM p
), grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM l
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 7 AS BIGINT) AS span_end,
       CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_tokens
FROM grp GROUP BY doc_id, grp
""",
    doc=(
        "Position-level exact duplicated-substring detection (the Lee "
        "et al. 'Deduplicating Training Data Makes Language Models "
        "Better' operation, at token grain): every 8-token window that "
        "occurs in ≥ 2 distinct documents marks its positions "
        "duplicated, and overlapping/adjacent duplicated windows merge "
        "into MAXIMAL covered spans per document — the spans a "
        "substring-dedup pass would cut, which document-level "
        "(dedup_exact) and passage-level (dedup_passage_exact, fixed "
        "10-token chunks) dedup both miss when the duplication "
        "straddles chunk boundaries or covers only part of a doc.  "
        "Spark shape: one zip_with shingle pass (built once per row, "
        "never per element), posexplode to (doc, pos, shingle), a "
        "shingle-grain distinct-doc count, a semi-join back, then "
        "interval union via lag + cumulative break numbering in "
        "doc-keyed windows (bounded by document length — the good "
        "kind).  At 100 TB the shingle string key swaps for xxhash64 "
        "with a verify join (the MinHash-LSH discipline, "
        "operators/dedup.py) and the distinct-doc count gets a cap "
        "(a shingle seen in 1000 docs needs no exact count) — both "
        "documented, neither changes the span semantics."
    ),
    tags=("dedup", "text", "llm", "window"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    W = 8
    docs = io.load(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", ngram_shingles(tokens_nonempty("text"), W).alias("gs")
    ).filter(F.size("gs") >= 1)
    pos = sh.select(
        "doc_id", F.posexplode("gs").alias("pos0", "g")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
    # pos feeds TWO consumers (the dup aggregate and the semi-join
    # probe); without the checkpoint the tokenize + 8-gram shingle
    # build — the query's dominant per-row work — ran twice
    # (optimization r16, guide §1.2 "don't compute things twice")
    pos = pos.localCheckpoint(eager=False)
    # "≥ 2 distinct docs" ⟺ min(doc_id) != max(doc_id): min/max are
    # map-side-combinable, so this is ONE partial-aggregated shuffle at
    # shingle grain where count_distinct planned a (g, doc_id) dedup
    # exchange PLUS the count exchange (guide §2.3 "aggregate before
    # you shuffle"; plan diff: 2 Exchanges → 1 on the dup branch)
    dup = (
        pos.groupBy("g")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("g")
    )
    covered = pos.join(dup, "g", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) > W, 1
    ).otherwise(0)
    grp = covered.withColumn(
        "grp",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return grp.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + W - 1).alias("span_end"),
        (F.max("pos") + W - 1 - F.min("pos") + 1).alias("span_tokens"),
    ).select("doc_id", "span_start", "span_end", "span_tokens")


@register(
    "sample_cluster_balanced",
    oracle=r"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         array_to_string(tk[1:3], ' ') AS prefix,
         list_distinct(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' '))) AS s
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '') AS tk
        FROM documents)
  WHERE len(tk) >= 3
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.prefix = b.prefix AND a.doc_id < b.doc_id
  WHERE CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION ALL SELECT id_b, id_a FROM p
),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
),
comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
labeled AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
sized AS (
  SELECT l.doc_id, l.cluster_id, s.cluster_size,
         CAST('0x' || substr(md5(CAST(l.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 1000000 AS draw
  FROM labeled l
  JOIN (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM labeled GROUP BY cluster_id) s USING (cluster_id)
)
SELECT doc_id, cluster_id, cluster_size, draw,
       CAST(draw * cluster_size < 1000000 AS BOOLEAN) AS keep
FROM sized
""",
    doc=(
        "Cluster-balanced sampling: every document draws a "
        "deterministic pseudo-uniform in [0, 1e6) from the portable "
        "md5-32 family and is kept with probability 1/cluster_size "
        "(draw * size < 1e6), so each near-dup cluster contributes ~1 "
        "expected survivor — the SemDeDup-style inverse-cluster-size "
        "reweighting a training pipeline applies when it wants "
        "diversity WITHOUT hard dedup (soft dedup keeps independent "
        "evidence; hard survivor selection is dedup_cluster_survivors). "
        "Clusters are the same blocked-Jaccard components as "
        "union_find_components with singletons labeled by their own "
        "id (always kept: draw * 1 < 1e6); the hash draw replays "
        "verbatim in SQL, so the whole randomized-looking procedure "
        "is hash-checked. Plan: pair discovery + O(rounds) component "
        "propagation + one size rollup + broadcast probe; the draw is "
        "row-local."
    ),
    tags=("dedup", "llm", "trainprep"),
)
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    pairs = _blocked_jaccard_pairs(docs).filter(F.col("jaccard") >= 0.5)
    comp = connected_components(
        pairs, "id_a", "id_b", id_out="doc_id", comp_out="comp_id"
    )
    labeled = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("comp_id", "doc_id").alias("cluster_id")
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    draw = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1_000_000
    )
    return (
        labeled.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            draw.alias("draw"),
            (draw * F.col("cluster_size") < 1_000_000).alias("keep"),
        )
    )


@register(
    "lang_id_confusion",
    oracle=r"""
WITH pred AS (
  SELECT doc_id, lang,
         CASE WHEN (CAST(list_contains(tk, 'the') AS INTEGER)
                    + CAST(list_contains(tk, 'and') AS INTEGER)
                    + CAST(list_contains(tk, 'of') AS INTEGER)
                    + CAST(list_contains(tk, 'a') AS INTEGER)
                    + CAST(list_contains(tk, 'to') AS INTEGER)) >= 2
              THEN 'en' ELSE 'und' END AS lang_pred
  FROM (SELECT doc_id, lang,
               list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '') AS tk
        FROM documents)
)
SELECT lang AS lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY lang, lang_pred
""",
    doc=(
        "Language-ID confusion matrix: the text_lang_id stopword "
        "heuristic's predictions crossed against the fixture's labeled "
        "lang column — the evaluation rollup a pipeline runs before "
        "trusting a classifier as a corpus filter (precision/recall "
        "per language are row-local ratios of these counts). Exact "
        "integer counts, one scan + one grouped count shuffle on the "
        "(true, pred) key."
    ),
    tags=("text", "llm", "agg"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    tk = tokens_nonempty(F.col("text"))
    score = sum(
        F.array_contains(tk, w).cast("int") for w in ["the", "and", "of", "a", "to"]
    )
    return (
        docs.select(
            F.col("lang").alias("lang_true"),
            F.when(score >= 2, "en").otherwise("und").alias("lang_pred"),
        )
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


@register(
    "dedup_cross_source_matrix",
    oracle=r"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         array_to_string(tk[1:3], ' ') AS prefix,
         list_distinct(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' '))) AS s
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '[^\p{L}]+'), t -> t <> '') AS tk
        FROM documents)
  WHERE len(tk) >= 3
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.prefix = b.prefix AND a.doc_id < b.doc_id
  WHERE CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION ALL SELECT id_b, id_a FROM p
),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
),
comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
cs AS (
  SELECT DISTINCT c.cluster_id, d.source
  FROM comp c JOIN documents d USING (doc_id)
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared_clusters
FROM cs a JOIN cs b ON a.cluster_id = b.cluster_id AND a.source < b.source
GROUP BY a.source, b.source
""",
    doc=(
        "Cross-source duplication matrix: for every pair of corpus "
        "sources, the number of near-dup clusters containing documents "
        "from BOTH — the provenance report a curation pipeline reads "
        "to find mirror sites, syndication, and scraped re-posts "
        "(within-source duplication is cleaning; cross-source "
        "duplication is a licensing/attribution signal). Clusters are "
        "the same blocked-Jaccard components as union_find_components; "
        "per cluster the distinct source set collapses row-locally to "
        "sorted pairs (bounded by the source dimension, the "
        "copurchase_brand_pairs shape); one pair-count shuffle ends "
        "it. All integers, full RECURSIVE-CTE oracle."
    ),
    tags=("dedup", "llm", "analytics"),
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    pairs = _blocked_jaccard_pairs(docs).filter(F.col("jaccard") >= 0.5)
    comp = connected_components(
        pairs, "id_a", "id_b", id_out="doc_id", comp_out="cluster_id"
    )
    cs = (
        comp.join(docs.select("doc_id", "source"), "doc_id")
        .select("cluster_id", "source")
        .distinct()
    )
    per_cluster = cs.groupBy("cluster_id").agg(
        F.array_sort(F.collect_set("source")).alias("srcs")
    )
    return (
        per_cluster.select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (x, i) -> "
                    "transform(slice(srcs, i + 2, size(srcs)), "
                    "y -> struct(x AS source_a, y AS source_b))))"
                )
            ).alias("p")
        )
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_clusters"))
    )


@register(
    "embedding_jl_project",
    oracle="""
WITH signs AS (
  SELECT d.d, i.i,
         CASE WHEN CAST('0x' || substr(md5(d.d || ':' || i.i), 1, 8)
                   AS BIGINT) % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(range(16)) AS d) d,
       (SELECT unnest(range(64)) AS i) i
),
elems AS (
  SELECT vec_id, u.i - 1 AS i,
         CAST(FLOOR(u.x * 1048576) AS BIGINT) AS q
  FROM emb_unnested u
),
emb_unnested AS (
  SELECT vec_id, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
)
SELECT e.vec_id, s.d AS dim,
       CAST(SUM(s.s * e.q) AS BIGINT) AS proj_q
FROM elems e JOIN signs s ON s.i = e.i
GROUP BY 1, 2
""",
    doc=(
        "Johnson-Lindenstrauss random projection 64 -> 16 dims with a "
        "PORTABLE Rademacher sign matrix: sign(d, i) = parity of the "
        "first-8-hex md5('d:i') (the dedup.py md5lin hash-family "
        "discipline), so both engines derive the identical +-1 matrix "
        "in-plan — no shipped model file. Element values quantize by "
        "floor(x * 2^20): a power-of-TWO scale, so the multiply is "
        "EXACT for float32 inputs and the floor has no cross-engine "
        "rounding boundary (the scalar_math_libm margin problem "
        "designed away instead of margin-proven); the projection is "
        "then a pure BIGINT dot product — order-independent, AQE-safe, "
        "bit-identical. Plan: posexplode the vector, join the "
        "1024-row broadcast sign table, one (vec_id, dim) keyed "
        "aggregate — linear in corpus size, constant in the sign "
        "matrix. The distance-preservation (JL) property is pinned in "
        "tests/test_analytics_properties.py. Scale: at 100 TB this is "
        "the standard dimensionality-reduction pre-pass before "
        "LSH/IVF indexing; the only shuffle is the (vec_id, dim) "
        "aggregate which AQE coalesces."
    ),
    tags=("llm", "similarity", "agg", "join"),
)
def embedding_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select(
        "vec_id",
        F.col("pos").alias("i"),
        F.floor(F.col("col") * 1048576).cast("bigint").alias("q"),
    )
    dims = spark.range(16).select(F.col("id").cast("int").alias("d"))
    idxs = spark.range(64).select(F.col("id").cast("int").alias("i"))
    signs = dims.crossJoin(idxs).select(
        "d",
        "i",
        F.when(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("d").cast("string"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
            == 0,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("s"),
    )
    return (
        elems.join(F.broadcast(signs), "i")
        .groupBy("vec_id", F.col("d").alias("dim"))
        .agg(F.sum(F.col("s") * F.col("q")).cast("bigint").alias("proj_q"))
    )


# ---------------------------------------------------------------------------
# PCA projection (round-10 widening) — see operators/pca.py
# ---------------------------------------------------------------------------


def _pca_oracle():
    from tda596_lab02mapreduce_spark.operators.pca import pca_oracle_sql

    return pca_oracle_sql(io.correctness_sf_dir())


@register(
    "embedding_pca_project",
    oracle=_pca_oracle,
    doc=(
        "PCA projection 64 -> 8 dims: the LEARNED counterpart of "
        "embedding_jl_project (JL preserves distances obliviously; "
        "PCA concentrates variance, the standard pre-pass before "
        "clustering / visualization / cheap ANN). Fit is a one-pass "
        "distributed moments mapInArrow (dim^2-sized partials only) "
        "+ driver eigh, persisted as a committed .models/ sidecar "
        "(the IVF/PQ fit-once/serve-many discipline); the sidecar "
        "stores mean and weights PRE-QUANTIZED by floor(x * 2^20), "
        "so serving is a pure BIGINT dot product — bit-identical in "
        "both engines with no fold-order argument. The oracle "
        "replays the identical integer model as a literal table. "
        "Plan: posexplode + one 512-row broadcast join + one "
        "(vec_id, dim) keyed aggregate — JL's shape with learned "
        "weights. Explained-variance ordering is pinned in "
        "tests/test_analytics_properties.py."
    ),
    tags=("llm", "similarity", "agg", "join"),
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.operators.pca import pca_fit, pca_project

    emb = io.load(spark, sf_dir, "embeddings")
    model = pca_fit(emb, dataset_key=sf_dir)
    return pca_project(spark, emb, model)


# ---------------------------------------------------------------------------
# K-means clustering (round-11 widening) — see operators/kmeans.py
# ---------------------------------------------------------------------------


def _kmeans_oracle():
    from tda596_lab02mapreduce_spark.operators.kmeans import kmeans_oracle_sql

    return kmeans_oracle_sql(io.correctness_sf_dir())


@register(
    "embedding_kmeans_assign",
    oracle=_kmeans_oracle,
    doc=(
        "Fixed-round distributed Lloyd's k-means (k=8, 4 rounds) over "
        "the embedding corpus, served as a hash-checked assignment "
        "query — the clustering primitive itself oracle-checked "
        "(VERDICT r10 #3), upgrading the IVF story whose quantizer "
        "fits driver-side on a bounded sample (similarity.py:235): "
        "here each Lloyd's round is one scan of the cached "
        "integer-quantized corpus (xq = floor(x*2^20)) computing k "
        "JVM fold-expression distances + one k-row-bounded aggregate "
        "of per-(cluster, dim) BIGINT sums; only k*64 integers ever "
        "reach the driver, and the committed sidecar stores the "
        "centroids ALREADY integer (truncating per-dim mean), so the "
        "serve is a MAP-ONLY argmin — exact BIGINT distances, "
        "(dist, cluster-id) tiebreak, zero shuffles — and the oracle "
        "replays it bit-for-bit from the literal centroid table. "
        "Non-degeneracy (1 < n_clusters, balanced enough to be a "
        "real clustering) is pinned in tests/test_kmeans.py."
    ),
    tags=("llm", "similarity", "ml", "agg"),
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.operators.kmeans import (
        kmeans_assign,
        kmeans_fit,
    )

    emb = io.load(spark, sf_dir, "embeddings")
    model = kmeans_fit(emb, dataset_key=sf_dir)
    return kmeans_assign(emb, model)


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes (round-12 widening) — see operators/naive_bayes.py
# ---------------------------------------------------------------------------


def _nb_oracle():
    from tda596_lab02mapreduce_spark.operators.naive_bayes import (
        naive_bayes_oracle_sql,
    )

    return naive_bayes_oracle_sql(io.correctness_sf_dir())


@register(
    "naive_bayes_lang_confusion",
    oracle=_nb_oracle,
    doc=(
        "Multinomial Naive Bayes language classifier served as a "
        "confusion matrix — the GENERATIVE member of the trained-model "
        "family (logistic GD = discriminative, kmeans = clustering, "
        "BPE = tokenizer). FIT is one distributed vocabulary-bounded "
        "BIGINT count aggregate; the driver quantizes Laplace-smoothed "
        "log-probabilities ONCE to integer micro-units, and the oracle "
        "replays the committed V-by-C sidecar under .models/ (the query "
        "refits in process every call and publishes nothing), so no "
        "transcendental ever evaluates inside either engine (the "
        "ln-ulp cross-engine "
        "exposure is removed at the source, same discipline as the "
        "kmeans centroid table). The vocabulary is CAPPED to the "
        "distributed top-V=24 tokens by global count (count-DESC/"
        "token-ASC tiebreak, TakeOrderedAndProject — exactly V rows "
        "then <=V*C count rows reach the driver by construction; the "
        "fixture vocabulary is 31, so the out-of-vocabulary drop path "
        "is exercised at every SF, identically in the oracle's inner "
        "join). SERVE: tokenize -> broadcast-join the "
        "120-row weight table -> one doc-grain aggregate -> argmax via "
        "min(struct(-score, class)) — a single document-keyed shuffle, "
        "no windows, map-only otherwise; the oracle replays the "
        "literal sidecar. Near-chance accuracy is the honest expected "
        "result on the synthetic fixture (see logistic_gd_priority); "
        "non-degeneracy (every class predicted for some doc, scores "
        "vary) is pinned in tests/test_naive_bayes.py."
    ),
    tags=("llm", "statml", "ml", "agg"),
)
def naive_bayes_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.operators.naive_bayes import (
        naive_bayes_confusion,
        naive_bayes_fit,
    )

    docs = io.load(spark, sf_dir, "documents")
    # Refit on every call (bench honesty — bpe_train_merges re-runs its
    # rounds too; a sidecar replay would time serve-only) and publish
    # nothing: the committed .models/ sidecar the oracle replays is
    # never rewritten by a query. The fit is deterministic, so it
    # equals that sidecar.
    model = naive_bayes_fit(docs)
    return naive_bayes_confusion(docs, model)


# ---------------------------------------------------------------------------
# Grid-blocked DBSCAN (round-12 widening) — see operators/dbscan.py
# ---------------------------------------------------------------------------


def _dbscan_oracle():
    from tda596_lab02mapreduce_spark.operators.dbscan import DBSCAN_ORACLE

    return DBSCAN_ORACLE


@register(
    "dbscan_embedding_clusters",
    oracle=_dbscan_oracle,
    doc=(
        "Grid-blocked distributed DBSCAN over the embedding 2-D "
        "projection (eps = 0.02 quantized to 20971 integer units, "
        "minPts = 5) — the DENSITY member of the clustering family. "
        "Candidates come from an EQUI-join on eps-sized grid cells "
        "(each point explodes into its 3x3 neighbor-cell keys — 9 rows "
        "per point, never a cross join; any eps-pair provably shares a "
        "neighborhood), distances are exact BIGINT squares of the "
        "2^20-quantized coordinates, core = neighbor count >= minPts "
        "(self included), clusters = Kiveris-star components over "
        "core-core eps-edges, borders take the MINIMUM core-neighbor "
        "label (the deterministic parallel-DBSCAN convention), noise = "
        "-1. The oracle replays the spec brute-force: O(n^2) pairs + "
        "WITH RECURSIVE reachability — so the hash proves the grid "
        "blocking is EXACTLY lossless, not just similar. Fixture "
        "geometry is one isotropic blob; the 16 clusters/91 borders/"
        "201 noise found at sf0.01 are genuine local density "
        "fluctuations (see logistic_gd_priority's degeneracy note)."
    ),
    tags=("llm", "similarity", "ml", "join"),
)
def dbscan_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.operators.dbscan import dbscan_roles

    emb = io.load(spark, sf_dir, "embeddings")
    return dbscan_roles(emb)
