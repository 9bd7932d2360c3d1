"""Multinomial Naive Bayes language classifier with a micro-unit
log-weight sidecar — the GENERATIVE member of the trained-model family
(logistic GD = discriminative GLM, kmeans = clustering, BPE = tokenizer).

The cross-engine exactness problem for NB is the logarithm: Spark's
JVM ``Math.log`` and DuckDB's libm ``ln`` are not guaranteed to agree
to the last ulp, so per-row log-likelihoods computed independently in
each engine could hash-mismatch.  The kmeans/PCA sidecar discipline
(operators/kmeans.py) removes the exposure entirely:

- FIT is distributed AND vocabulary-capped: the vocabulary is the
  distributed top-V tokens by global corpus count (deterministic
  count-DESC / token-ASC tiebreak — the vocab_encode_topk discipline,
  queries/trainprep.py), selected via ``TakeOrderedAndProject`` so the
  driver receives exactly V rows; the token×class occurrence counts
  are then exact BIGINT aggregates restricted to that vocabulary by a
  broadcast semi-join, so only ≤ V×C count rows ever reach the driver
  (V=24, C=5 on the fixture — 120 rows; the fixture's full vocabulary
  is 31, so the out-of-vocabulary path is exercised at every SF).
  Tokens outside the top-V are DROPPED at serve time — the same rule
  as unseen tokens, applied identically by the oracle's inner join.
  Class token totals N_c are the IN-VOCABULARY totals (derivable from
  the capped table itself), keeping the model self-consistent.
- The driver quantizes Laplace-smoothed log-probabilities ONCE to
  integer micro-units, ``w_u(t,c) = round(1e6 * ln((cnt+1)/(N_c+V)))``,
  and persists them as a committed JSON sidecar under ``.models/``.
- SERVE is deterministic integer arithmetic GIVEN the model: tokenize
  (split on the fixture's single-space delimiter — exactly replayable
  as ``string_split`` in DuckDB), broadcast-join the V×C weight table,
  per-(doc, class) BIGINT score = prior_u + Σ w_u, argmax with a
  lexical class tiebreak (min over (-score, class) — a total order).
- The ORACLE embeds the same sidecar as a literal VALUES table, so
  both engines sum identical integers — no transcendental ever
  evaluates inside either engine.

At 100 TB: the fit is two map-side-combinable count aggregates — a
token-grain count whose top-V survives (top-k is partial-aggregated
then merged, never a global sort of the vocabulary), then a
V-bounded class×token count — so driver traffic is V + V×C rows by
construction regardless of corpus vocabulary; the
serve is tokenize → broadcast join → one doc-keyed aggregate: a single
shuffle at document grain, no windows, no driver loops.

Near-chance accuracy is the honest expected result on the synthetic
fixture (token distributions barely differ by lang); as with
logistic_gd_priority the gate checks the TRAINING + SERVING algebra,
not the data.

Reference parity: the reference engine (mr/worker.go MapReduce) has no
model training; this extends SURVEY.md §2C's trained-model band.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import sidecars

# Distributed vocabulary cap (strictly below the 31-token fixture
# vocabulary at every SF, so the OOV serve path is always exercised).
NB_TOP_V = 24

# Observability for tests: the row counts the driver actually received
# on the last REAL fit (not a sidecar load) — pins the V + V×C contract.
_LAST_FIT_STATS: dict[str, int] = {}


def _w_u(num: int, den: int) -> int:
    """round(1e6 * ln(num/den)) — evaluated ONCE driver-side; the
    integer result is what both engines see."""
    return round(1_000_000 * math.log(num / den))


def naive_bayes_fit(
    docs: DataFrame,
    *,
    dataset_key: str | None = None,
    refit: bool = False,
    top_v: int = NB_TOP_V,
) -> dict:
    """Fit (or fetch) the multinomial NB model with a DISTRIBUTED
    top-V vocabulary cap.  Returns ``{"classes": [...], "priors_u":
    {c: int}, "weights_u": {token: {c: int}}, "vocab": [...],
    "top_v": V}`` — all weights integer micro-units of the
    Laplace-smoothed log-probabilities over the capped vocabulary."""
    key = (dataset_key, "text", "lang", top_v)
    if dataset_key is not None and not refit:
        model = sidecars.load("nb", key)
        if model is not None:
            return model

    spark = docs.sparkSession
    tok = docs.select(
        F.col("lang").alias("c"),
        F.explode(F.split(F.col("text"), " ")).alias("t"),
    ).filter(F.length("t") > 0)
    # ONE token-stream pass (optimization r16, guide §1.2): the
    # class×token counts are aggregated first (map-side-combinable —
    # the wordcount posture; state is corpus-vocab × C rows, never the
    # token stream), then BOTH the vocabulary cap and the capped count
    # table derive from that small frame instead of re-scanning and
    # re-exploding the corpus a second time.
    counts_ct = (
        tok.groupBy("c", "t")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    # Distributed vocabulary cap: top-V tokens by global corpus count
    # (= Σ over classes of the (c,t) counts — exact integers),
    # deterministic (count DESC, token ASC) tiebreak — orderBy+limit
    # plans as TakeOrderedAndProject (partial top-k merged at the
    # driver), so exactly V rows are collected however large the
    # corpus vocabulary is.
    vocab_rows = (
        counts_ct.groupBy("t")
        .agg(F.sum("n").alias("n_tot"))
        .orderBy(F.col("n_tot").desc(), F.col("t"))
        .limit(top_v)
        .collect()
    )
    vocab = sorted(r["t"] for r in vocab_rows)
    vdf = spark.createDataFrame([(t,) for t in vocab], "t string")
    # The class×token counts restricted to the capped vocabulary by a
    # broadcast semi-join: ≤ V×C exact BIGINT rows reach the driver.
    counts = counts_ct.join(F.broadcast(vdf), "t", "left_semi").collect()
    doc_counts = (
        docs.groupBy(F.col("lang").alias("c"))
        .agg(F.count(F.lit(1)).alias("nd"))
        .collect()
    )
    _LAST_FIT_STATS.update(
        vocab_rows=len(vocab_rows),
        count_rows=len(counts),
        class_rows=len(doc_counts),
    )

    classes = sorted({r["c"] for r in doc_counts})
    V = len(vocab)
    cnt = {(r["c"], r["t"]): int(r["n"]) for r in counts}
    # N_c = IN-VOCABULARY token total per class (OOV tokens are dropped
    # by the model's serve contract, so they don't belong in the
    # multinomial denominator either) — derived from the capped table.
    n_tok = {c: sum(v for (cc, _), v in cnt.items() if cc == c) for c in classes}
    nd = {r["c"]: int(r["nd"]) for r in doc_counts}
    nd_all = sum(nd.values())

    priors_u = {c: _w_u(nd[c], nd_all) for c in classes}
    weights_u = {
        t: {c: _w_u(cnt.get((c, t), 0) + 1, n_tok[c] + V) for c in classes}
        for t in vocab
    }
    model = {
        "classes": classes,
        "priors_u": priors_u,
        "weights_u": weights_u,
        "vocab": vocab,
        "top_v": top_v,
    }
    if dataset_key is not None:
        sidecars.save("nb", key, model)
    return model


def naive_bayes_confusion(
    docs: DataFrame,
    model: dict,
) -> DataFrame:
    """Classify every document and return the confusion matrix
    (true_lang, pred_lang, n_docs) — ≤ |classes|² rows, all exact.

    Plan (optimization r16, guide §2.4): the per-row stateless FOLD
    (naive_bayes_score_columns — prior + Σ w_u over the split array
    against literal weight maps, per-doc argmax via
    min(struct(-score, class))), then one classes²-bounded rollup —
    zero document-grain shuffles.  The previous explode → broadcast
    weight join → (doc, class) aggregate shape shuffled a (doc_id,
    class)-grain frame per run (measured 1.37–1.45 s → 0.95–1.19 s
    serve-only at sf0.1); equivalence of the two shapes (OOV tokens
    add 0 ⟺ inner-join drop; n_iv = 0 rows filtered ⟺ absent from the
    join) is exactly the contract stream_nb_model_swap's
    batch-boundary oracle already hash-proves, and the registered
    batch oracle still scores via the join form."""
    pred_col, n_iv = naive_bayes_score_columns(model)
    return (
        docs.select(
            F.col("lang").alias("true_lang"),
            pred_col.alias("pred_lang"),
            n_iv.alias("n_iv"),
        )
        .filter(F.col("n_iv") > 0)
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def naive_bayes_oracle_sql(sf_dir: str) -> str:
    """DuckDB replay against the committed sidecar: identical literal
    integer weights, identical tokenize/join/sum, identical
    (score DESC, class ASC) argmax.  The vocabulary cap replays for
    free — out-of-vocabulary tokens drop at the inner join exactly as
    in the Spark serve."""
    model = sidecars.committed(
        "nb", (sf_dir, "text", "lang", NB_TOP_V), "stream_nb_classify"
    )
    ctes, pred = _nb_scoring_ctes(model, "")
    return f"""
WITH tok AS (
  -- empty tokens (double spaces) need no filter: they are never in
  -- the vocabulary, so the scoring inner join drops them
  SELECT doc_id AS doc_id, lang AS true_lang,
         unnest(string_split(text, ' ')) AS t
  FROM documents
),
{ctes}
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM {pred} WHERE rn = 1
GROUP BY 1, 2
"""


def naive_bayes_score_columns(model: dict):
    """STATELESS per-row scoring of a fitted model — the form a
    STRUCTURED STREAM needs: because a document's tokens live in one
    row, the per-class score is a higher-order-function fold over the
    split array against LITERAL weight maps (V entries per class),
    never an explode + aggregation (which on a stream would be a
    stateful shuffle).  Returns (pred_col, n_invocab_col):

    - ``pred_col``: argmax class by prior_u + Σ w_u over IN-VOCABULARY
      tokens, ties broken lexically via min(struct(-score, class)) —
      identical to naive_bayes_confusion's aggregate form.
    - ``n_invocab_col``: the count of in-vocabulary tokens; rows with
      0 must be FILTERED by the caller (the batch form drops them at
      its inner join).

    OOV tokens add 0 to every class — equivalent to the batch form's
    join drop, since a constant per-token offset never reorders
    classes (it's absent from all of them).  try_element_at (ANSI-safe
    NULL on miss) + coalesce implement the drop.  All integer BIGINT
    arithmetic; the model literals are the committed sidecar's."""
    toks = F.filter(
        F.split(F.col("text"), " "), lambda t: F.length(t) > 0
    )
    vocab_map = F.create_map(
        *[x for t in model["vocab"] for x in (F.lit(t), F.lit(1))]
    )
    n_iv = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.coalesce(
            F.try_element_at(vocab_map, t).cast("bigint"), F.lit(0)
        ),
    )
    def _class_score(c: str):
        wmap = F.create_map(
            *[
                x
                for t in model["vocab"]
                for x in (F.lit(t), F.lit(int(model["weights_u"][t][c])))
            ]
        )
        # closure factory, not a default arg: PySpark derives the
        # higher-order function's arity from the lambda signature
        return F.aggregate(
            toks,
            F.lit(int(model["priors_u"][c])).cast("bigint"),
            lambda acc, t: acc
            + F.coalesce(F.try_element_at(wmap, t), F.lit(0)),
        )

    scores = [
        F.struct((-_class_score(c)).alias("neg"), F.lit(c).alias("c"))
        for c in model["classes"]
    ]
    pred = F.array_min(F.array(*scores)).getField("c")
    return pred, n_iv


# ---------------------------------------------------------------------------
# Versioned model store + hot-swap oracle (r14 verdict #6: production
# serving re-resolves the model BETWEEN micro-batches)
# ---------------------------------------------------------------------------

NB_SWAP_KEY_SUFFIX = "#even-docs"  # v2 = deterministic refit on even doc_ids


def nb_swap_v2_dataset_key(sf_dir: str) -> str:
    """The v2 sidecar's dataset key: the suffix is appended AFTER
    path normalization (realpath of the suffixed pseudo-path would
    defeat the store's spelling-invariance — a trailing slash or
    symlink spelling of the same dir would hash to a different v2
    sidecar while v1 stayed stable; r15 review).  sidecars.path's
    realpath is idempotent on the result (parents are already
    resolved and the suffixed leaf never exists), so the store maps
    it to itself."""
    return os.path.realpath(sf_dir) + NB_SWAP_KEY_SUFFIX


def naive_bayes_model_rows(spark: SparkSession, model: dict) -> DataFrame:
    """The fitted model flattened to rows for the versioned store
    (sources/versioned.py): kind='w' rows carry (token, class,
    weight), kind='prior' rows carry (NULL, class, prior) — V×C + C
    rows, the same bounded driver payload the sidecar JSON holds."""
    rows = [
        ("w", t, c, int(model["weights_u"][t][c]))
        for t in model["vocab"]
        for c in model["classes"]
    ] + [("prior", None, c, int(model["priors_u"][c])) for c in model["classes"]]
    return spark.createDataFrame(
        rows, "kind string, t string, c string, w_u bigint"
    )


def naive_bayes_model_from_rows(rows) -> dict:
    """Rebuild the scoring model dict from collected store rows — the
    inverse of naive_bayes_model_rows (vocab/classes derived, sorted
    for deterministic literal-map construction)."""
    priors_u = {r["c"]: int(r["w_u"]) for r in rows if r["kind"] == "prior"}
    classes = sorted(priors_u)
    weights_u: dict[str, dict[str, int]] = {}
    for r in rows:
        if r["kind"] == "w":
            weights_u.setdefault(r["t"], {})[r["c"]] = int(r["w_u"])
    return {
        "classes": classes,
        "priors_u": priors_u,
        "weights_u": weights_u,
        "vocab": sorted(weights_u),
    }


def _nb_scoring_ctes(model: dict, tag: str) -> tuple[str, str]:
    """(CTE definitions, final-select fragment) scoring ``tok`` with
    ``model``'s literal weights under suffix ``tag`` — the one NB
    scoring SQL, parameterized so two model versions can share one
    statement."""

    def q(s: str) -> str:
        # SQL string-literal escape: a token/class containing an
        # apostrophe ("don't") must not break the generated VALUES
        return "'" + str(s).replace("'", "''") + "'"

    wrows = ",\n".join(
        f"({q(t)}, {q(c)}, {int(model['weights_u'][t][c])})"
        for t in model["vocab"]
        for c in model["classes"]
    )
    prows = ",\n".join(
        f"({q(c)}, {int(model['priors_u'][c])})" for c in model["classes"]
    )
    ctes = f"""w{tag}(t, c, w_u) AS (VALUES
{wrows}
),
pri{tag}(c, prior_u) AS (VALUES
{prows}
),
scores{tag} AS (
  SELECT tok.doc_id, tok.true_lang, w{tag}.c,
         CAST(SUM(w{tag}.w_u) AS BIGINT) + MIN(pri{tag}.prior_u)
           AS score_u
  FROM tok
  JOIN w{tag}   ON w{tag}.t = tok.t
  JOIN pri{tag} ON pri{tag}.c = w{tag}.c
  GROUP BY 1, 2, 3
),
pred{tag} AS (
  SELECT doc_id, true_lang, c AS pred_lang,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_u DESC, c) AS rn
  FROM scores{tag}
)"""
    return ctes, f"pred{tag}"


def naive_bayes_swap_oracle_sql(sf_dir: str) -> str:
    """The hot-swap drain's oracle: batch 0 is the full table scored
    with the COMMITTED v1 sidecar, batch 1 the full table scored with
    the v2 (even-doc_ids refit) sidecar — the batch-id-keyed split
    that proves the mid-drain version bump switched scoring exactly
    at the micro-batch boundary."""
    models = [
        sidecars.committed(
            "nb", (dkey, "text", "lang", NB_TOP_V), "stream_nb_model_swap"
        )
        for dkey in (sf_dir, nb_swap_v2_dataset_key(sf_dir))
    ]

    ctes1, pred1 = _nb_scoring_ctes(models[0], "1")
    ctes2, pred2 = _nb_scoring_ctes(models[1], "2")
    return f"""
WITH tok AS (
  -- empty tokens (double spaces) need no explicit filter: they are
  -- never in the vocabulary, so the scoring inner join drops them
  -- exactly as the Spark fold's try_element_at miss adds 0
  SELECT doc_id, lang AS true_lang,
         unnest(string_split(text, ' ')) AS t
  FROM documents
),
{ctes1},
{ctes2}
SELECT CAST(0 AS BIGINT) AS batch_id, CAST(1 AS BIGINT) AS model_version,
       true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM {pred1} WHERE rn = 1
GROUP BY 3, 4
UNION ALL
SELECT CAST(1 AS BIGINT), CAST(2 AS BIGINT),
       true_lang, pred_lang, CAST(count(*) AS BIGINT)
FROM {pred2} WHERE rn = 1
GROUP BY 3, 4
"""
