"""Deduplication operators for LLM-corpus pipelines (SURVEY.md §2C).

All candidate generation is strictly sub-quadratic: banding/bucketing
turns pair discovery into an equi-join on bucket keys, so cost is
O(candidates), never O(n²). Payload text never rides a shuffle —
only ids + hashes/signatures do; verification joins the payload back
by id afterwards.

Everything is built-in Column expressions (codegen'd, no Python in
the hot path). Signature construction is row-local (zero shuffle);
the only wide ops are the bucket join and the final dedup decision.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tda596_lab02mapreduce_spark.functions.text import ngram_shingles, tokens_nonempty

# --- Portable (oracle-replayable) hash family -------------------------
#
# The default signature family is xxhash64 (fastest JVM path), but
# xxhash64 has no DuckDB equivalent, so queries built on it can only be
# rows-only-checked. The "md5lin" family is designed for end-to-end
# differential testing: ONE md5 per shingle → 32-bit base hash
# (first 8 hex digits, i.e. conv(substr(md5(s),1,8),16,10)), then
# num_perm universal-hash draws h_i = (A[i]*base + B[i]) mod (2^31-1).
# Every step is replayable verbatim in ANSI-ish SQL
# (`CAST('0x' || substr(md5(s),1,8) AS BIGINT)` in DuckDB), which turns
# the whole signature→banding→verify pipeline into a hash-checkable
# oracle query. A[i] < 2^30 and base < 2^32 keep A[i]*base < 2^62 —
# no 64-bit overflow in either engine. Constants are frozen literals
# (random.Random(596)) so plan and oracle can never drift.
MINHASH_MOD = 2147483647  # 2^31 - 1
MINHASH_A = (
    434082315, 163403779, 996104193, 187574693, 828541699, 153631863,
    184651553, 721964931, 230765981, 794731413, 253620177, 457890173,
    246419321, 37349299, 47200267, 575090957,
)
MINHASH_B = (
    1950075830, 2130620151, 657799218, 1485867022, 694782011, 2030128507,
    939989466, 1322209147, 36593445, 2128305279, 1058056026, 702721062,
    141520145, 1865406985, 1601591641, 1264444580,
)
# MinHash-LSH shape (signature width, bands of MINHASH_PERM // MINHASH_BANDS
# rows) over word SHINGLE_K-shingles; SimHash signatures are SIMHASH_BITS
# wide, banded into SIMHASH_CHUNKS pieces
MINHASH_PERM = 16
MINHASH_BANDS = 4
SHINGLE_K = 3
SIMHASH_BITS = 64
SIMHASH_CHUNKS = 4


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup: keep the lowest-id row per distinct text.

    Shuffles only (sha256, id) — not the payload (reference analogue:
    emit hash as key; SURVEY.md §2C 'shuffle on hash only')."""
    h = F.sha2(F.col(text_col), 256).alias("__h")
    w = Window.partitionBy("__h").orderBy(F.col(id_col))
    return (
        df.select(F.col(id_col), h)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col)
        .join(df, id_col)
    )


def shingles(text: Column) -> Column:
    """Word SHINGLE_K-shingles as strings (row-local). Short docs (< SHINGLE_K tokens)
    yield their whole token run as the single shingle. The zip_with
    construction (functions/text.py:ngram_shingles) keeps the tokenize
    subtree O(1)-per-row instead of re-evaluated per shingle."""
    toks = tokens_nonempty(text)
    n = F.size(toks)
    return F.when(n < SHINGLE_K, F.array(F.concat_ws(" ", toks))).otherwise(
        ngram_shingles(toks, SHINGLE_K)
    )


def minhash_signature(shingle_col: Column, *, family: str = "xxh64") -> Column:
    """MINHASH_PERM-wide MinHash signature as ONE fold over the shingle
    array: the accumulator is the running element-wise min of the
    MINHASH_PERM hash family (seed = permutation index folded into
    xxhash64, or the A/B universal draws for family="md5lin").
    Row-local.

    Single-pass matters: the naive per-permutation form
    ``array(array_min(transform(shingles, h_i)) for i in ...)`` embeds
    the shingle-construction subtree MINHASH_PERM times, and Catalyst's
    projection collapse multiplies that again at every consumer —
    measured 100×+ slowdown at sf0.1. Here the shingle subtree occurs
    exactly once.

    family="md5lin" additionally evaluates the (cryptographic, slower)
    md5 exactly ONCE per shingle: the fold walks a pre-transformed
    base-hash array, and the per-permutation work is two integer ops —
    the inner `h` is a lambda VARIABLE, so referencing it MINHASH_PERM
    times does not re-inline the md5 subtree."""
    num_perm = MINHASH_PERM
    if family == "xxh64":
        init = F.array_repeat(F.lit((1 << 63) - 1).cast("long"), num_perm)
        return F.aggregate(
            shingle_col,
            init,
            lambda acc, s: F.zip_with(
                acc,
                F.transform(
                    F.sequence(F.lit(0), F.lit(num_perm - 1)),
                    lambda i: F.xxhash64(s, i),
                ),
                lambda a, h: F.least(a, h),
            ),
        )
    if family != "md5lin":
        raise ValueError(f"unknown minhash family {family!r}")
    a_lit = F.array(*[F.lit(a).cast("long") for a in MINHASH_A])
    b_lit = F.array(*[F.lit(b).cast("long") for b in MINHASH_B])
    bases = F.transform(
        shingle_col,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )
    init = F.array_repeat(F.lit(MINHASH_MOD).cast("long"), num_perm)
    return F.aggregate(
        bases,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(num_perm - 1)),
                lambda i: (
                    F.element_at(a_lit, (i + 1).cast("int")) * h
                    + F.element_at(b_lit, (i + 1).cast("int"))
                )
                % F.lit(MINHASH_MOD),
            ),
            lambda a, h2: F.least(a, h2),
        ),
    )


def _banded_entries(sig: Column, family: str) -> Column:
    """array<struct<band, band_hash>> for one signature — the banding
    generator shared by the LSH pair builders. ONE expression (explode
    happens at the caller) so the signature subtree is evaluated once
    per row, not once per band.

    xxh64 compresses each band slice to a 8-byte hash (narrowest
    shuffle key); md5lin joins the slice to a decimal string — equal
    slices ⟺ equal strings, so banding semantics are identical AND the
    key is replayable in the SQL oracle (array_to_string(slice, ','))
    with zero collision risk."""
    rows_per_band = MINHASH_PERM // MINHASH_BANDS
    slice_str = lambda b: F.concat_ws(  # noqa: E731
        ",",
        F.transform(
            F.slice(sig, b * rows_per_band + 1, F.lit(rows_per_band)),
            lambda x: x.cast("string"),
        ),
    )
    key = (lambda b: F.xxhash64(slice_str(b))) if family == "xxh64" else slice_str
    return F.transform(
        F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1)),
        lambda b: F.struct(b.alias("band"), key(b).alias("band_hash")),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    family: str = "xxh64",
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding.

    signature (row-local) → explode into MINHASH_BANDS band-hashes →
    self-equi-join on (band, band_hash) with id_a < id_b → distinct
    pairs. Returns (id_a, id_b). A pair surfaces iff the docs collide
    in ≥1 band — the classic S-curve; guaranteed to contain all exact
    duplicates (tested property).

    The banding generator is likewise a SINGLE expression (explode of
    transform over band indices) so the signature subtree — and the
    shingle subtree inside it — is evaluated once per row, not once
    per band."""
    src = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    sig = minhash_signature(shingles(F.col("__text")), family=family)
    banded = src.select(
        "__id", F.explode(_banded_entries(sig, family)).alias("bh")
    ).select("__id", "bh.band", "bh.band_hash")
    # Explicit repartition on the join key makes both self-join sides an
    # IDENTICAL exchange, so the signature projection runs ONCE and the
    # second side reads the same shuffle output (AQE stage reuse) —
    # without it the planner broadcasts one side and re-evaluates the
    # whole MinHash fold for it (measured 2.9s → 1.7s at sf0.1).
    banded = banded.repartition("band", "band_hash")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.8,
    n_partitions: int | None = None,
    family: str = "xxh64",
) -> DataFrame:
    """Fused MinHash-LSH + Jaccard verify in ONE corpus pass.

    The composable pipeline (minhash_lsh_pairs → jaccard_verify) scans
    the corpus three times (signature, set_a join, set_b join) and
    shuffles the shingle sets twice. Here the distinct shingle set is
    computed once, the signature is derived from it in the same
    projection, and the set rides the band exchange — so the self-join
    output already carries (set_a, set_b) and verification is a
    row-local expression. Candidate pairs are deduped BEFORE the
    Jaccard so a pair colliding in several bands is verified once.

    Scale ledger vs the composable pipeline: one corpus scan instead
    of three, and one shuffle instead of three — at the price of the
    band exchange carrying MINHASH_BANDS copies of each shingle set
    instead of ids only. Still strictly sub-quadratic: the join is an
    equi-join on (band, band_hash); identical-exchange both sides, so
    the shuffle is written once (AQE stage reuse). 3.5s → 1.3s at
    sf0.1. Returns (id_a, id_b, jaccard) with jaccard ≥ threshold."""
    src = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    if n_partitions:
        src = src.repartition(n_partitions, "__id")
    # MinHash over the distinct set ≡ MinHash over the multiset (min is
    # duplicate-blind), so one array serves signature AND verify.
    sets = src.select(
        "__id", F.array_distinct(shingles(F.col("__text"))).alias("__set")
    )
    sig = minhash_signature(F.col("__set"), family=family)
    banded = sets.select(
        "__id",
        "__set",
        F.explode(_banded_entries(sig, family)).alias("bh"),
    ).select("__id", "__set", "bh.band", "bh.band_hash")
    banded = banded.repartition(
        *([n_partitions] if n_partitions else []), "band", "band_hash"
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__set").alias("set_a"),
            F.col("b.__set").alias("set_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("set_a", "set_b"))
                / F.size(F.array_union("set_a", "set_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs; keeps pairs ≥ threshold.
    Joins shingle sets back by id (two broadcast-or-shuffle hash joins
    on ids — O(candidates), not O(n²))."""
    src = df.select(F.col(id_col).alias("__id0"), F.col(text_col).alias("__text"))
    sets = src.select(
        F.col("__id0").alias("__id"),
        F.array_distinct(shingles(F.col("__text"))).alias("__set"),
    )
    j = (
        pairs.join(sets.withColumnRenamed("__id", "id_a").withColumnRenamed("__set", "set_a"), "id_a")
        .join(sets.withColumnRenamed("__id", "id_b").withColumnRenamed("__set", "set_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("set_a", "set_b"))
                / F.size(F.array_union("set_a", "set_b"))
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def _hex_vote_map() -> Column:
    """Literal map hex-char → array of 4 ±1 votes (MSB of the nibble
    first). Built per-call because F.lit needs an active session;
    Catalyst constant-folds the map, so lookups are O(1) codegen."""
    items: list[Column] = []
    for ch in "0123456789abcdef":
        d = int(ch, 16)
        items.append(F.lit(ch))
        items.append(
            F.array(
                *[F.lit(1 if (d >> j) & 1 else -1).cast("long") for j in (3, 2, 1, 0)]
            )
        )
    return F.create_map(*items)


def _token_votes(t: Column, family: str = "xxh64") -> Column:
    """±1 vote vector for one token. ONE hash call rendered to bit
    votes, not 64 shiftright probes of 64 separate hash calls
    (expression-blowup trap, measured 10-100× at sf0.1 — see
    minhash_signature note).

    xxh64: two's-complement bit string via bin().
    md5: first 16 hex chars of md5(t) — 64 bits, MSB first — expanded
    4 votes per char through a literal lookup map. Replayable in the
    SQL oracle as bit probes of '0x'-parsed hex chars."""
    if family == "md5":
        hexmap = _hex_vote_map()
        return F.flatten(
            F.transform(
                F.split(F.substring(F.md5(t), 1, 16), ""),
                lambda c: F.element_at(hexmap, c),
            )
        )
    if family != "xxh64":
        raise ValueError(f"unknown simhash family {family!r}")
    return F.transform(
        F.split(F.lpad(F.bin(F.xxhash64(t)), SIMHASH_BITS, "0"), ""),
        lambda c: F.when(c == "1", F.lit(1)).otherwise(F.lit(-1)).cast("long"),
    )


def _pack_counters(counters: Column) -> Column:
    """Sign of each counter → packed long. Multiplies by a LITERAL
    weight array (zip_with references `counters` once), not 64 chained
    when(element_at(counters, b)...) each inlining the whole fold.
    bin() is MSB-first, so weight[i] = bit (63-i); index 0 is the
    sign bit of the packed long."""
    weights = F.array(
        *[
            F.lit(-(1 << 63) if i == 0 else (1 << (63 - i))).cast("long")
            for i in range(SIMHASH_BITS)
        ]
    )
    return F.aggregate(
        F.zip_with(
            counters,
            weights,
            lambda c, w: F.when(c > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def _simhash_occurrence_fold(text: Column, *, family: str = "xxh64") -> Column:
    """Reference SimHash fold: one vote fold per token OCCURRENCE.
    Kept as the semantic baseline for the parity test of the
    run-length-optimized simhash() below."""
    toks = tokens_nonempty(text)
    counters = F.aggregate(
        toks,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, t: F.zip_with(
            acc, _token_votes(t, family), lambda a, v: a + v
        ),
    )
    return _pack_counters(counters)


def simhash(text: Column, *, family: str = "xxh64") -> Column:
    """64-bit SimHash of the token multiset — entirely row-local
    (one aggregate fold over the token array, no explode/shuffle).

    Each token's xxhash64 votes ±1 per bit position; the signature
    packs the sign of each counter. Near-dup pairs then differ in few
    bits (hamming), discoverable by chunk-banding.

    Run-length optimization: sum of votes over a multiset equals
    count × vote summed over DISTINCT tokens, so the fold walks the
    SORTED token array carrying (prev, run_count, counters) state and
    pays the heavy per-token vote expansion once per distinct run,
    not once per occurrence — bit-identical signatures (parity-tested
    against _simhash_occurrence_fold), ~repetition-factor fewer hash
    expansions per document, still O(n log n) row-local with no
    quadratic distinct×occurrence scan."""
    toks = F.array_sort(tokens_nonempty(text))
    zeros = F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS)

    def flush(st: Column) -> Column:
        # fold the finished run into the counters: counters += cnt × votes(prev)
        # (st is a lambda VARIABLE — referencing it repeatedly does not
        # re-inline the accumulated subtree, unlike a computed Column)
        return F.zip_with(
            st.getField("acc"),
            _token_votes(st.getField("prev"), family),
            lambda a, v: a + v * st.getField("cnt"),
        )

    def merge(st: Column, t: Column) -> Column:
        same = t == st.getField("prev")
        return F.when(
            same,
            F.struct(
                st.getField("prev").alias("prev"),
                (st.getField("cnt") + F.lit(1).cast("long")).alias("cnt"),
                st.getField("acc").alias("acc"),
            ),
        ).otherwise(
            F.struct(
                t.alias("prev"),
                F.lit(1).cast("long").alias("cnt"),
                flush(st).alias("acc"),
            )
        )

    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("cnt"),
        zeros.alias("acc"),
    )
    counters = F.aggregate(toks, init, merge, flush)
    # coalesce makes the signature NON-NULLABLE (null text → 0, same as
    # empty text). Load-bearing for the plan, not just semantics: a
    # downstream `hamming <= k` filter makes Catalyst infer
    # isnotnull(bit_count(a ^ b)) → isnotnull(__sh) per side, and that
    # inferred predicate — containing this ENTIRE fold — gets pushed
    # into the parquet scan's Filter, evaluating the signature twice
    # per side (measured 2.9s vs 1.5s at sf0.1). Non-nullable output
    # constant-folds the inferred IsNotNull away.
    return F.coalesce(_pack_counters(counters), F.lit(0).cast("long"))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_hamming: int = 8,
    n_partitions: int | None = None,
    family: str = "xxh64",
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit signature into
    SIMHASH_CHUNKS 16-bit pieces (pigeonhole: hamming ≤ chunks-1 guarantees
    one identical chunk; practical recall for ≤ max_hamming), join on
    identical chunks, verify with popcount of XOR.

    With ``n_partitions`` the signature projection runs after a
    repartition — parallel on few-split inputs, and the Exchange is a
    projection-collapse barrier so the fold isn't re-inlined per chunk."""
    src = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    if n_partitions:
        src = src.repartition(n_partitions, "__id")
    sh = src.select("__id", simhash(F.col("__text"), family=family).alias("__sh"))
    if n_partitions:
        sh = sh.repartition(n_partitions, "__id")
    width = SIMHASH_BITS // SIMHASH_CHUNKS
    banded = sh.select(
        "__id",
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("__sh"), c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk_val"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("cv"),
    ).select("__id", "__sh", "cv.chunk", "cv.chunk_val")
    # identical-exchange self-join: signature computed once, second side
    # reuses the shuffle (see minhash_lsh_pairs note)
    banded = banded.repartition(*(
        [n_partitions] if n_partitions else []), "chunk", "chunk_val")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.__sh").bitwiseXOR(F.col("b.__sh")))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)
