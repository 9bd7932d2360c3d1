"""Fixture table loaders (TESTDATA.md / FIXTURES.md).

The ten driver-generated parquet tables. ``load`` returns a DataFrame
per table; ``register_views`` exposes all of them as temp views so
SQL-shaped queries mirror the DuckDB oracle exactly. Reading is plain
``spark.read.parquet`` — Catalyst owns predicate pushdown, column
pruning, and partition-split sizing (``maxPartitionBytes``); at 100 TB
the same call simply fans out over more splits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def sf_dir_from_env(default: str = DEFAULT_SF_DIR) -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; known: {TABLES}")
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) in parquet, which vanilla Spark
        # rejects (PARQUET_TYPE_ILLEGAL). nanosAsLong is a *runtime* SQL
        # conf, so set it here — at read time — rather than relying on
        # the session builder having done it: any caller-provided
        # session (e.g. the correctness harness's default one) works.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_events_ts(df) if name == "events" else df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to a session-TZ TIMESTAMP whichever way the
    fixture generation annotated it — shared by the batch load and the
    events file stream, so both read the same column:

    - TIMESTAMP(NANOS): surfaces as int64 via nanosAsLong;
      floor-divide to µs — identical to DuckDB's ns truncation.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): surfaces as
      TIMESTAMP_NTZ, which Spark 4 rejects in tz-aware functions
      (unix_micros et al. — the CORRECTNESS_r04/BENCH_r04 crash).
      to_utc_timestamp(ts, 'UTC') pins "naive wall time == UTC
      instant" regardless of the session timezone — the same
      reading DuckDB's epoch_us gives the naive column, so epoch
      outputs agree even on a non-UTC driver session."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.to_utc_timestamp("ts", "UTC"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}



def correctness_sf_dir() -> str:
    """The fixture dir a lazily-resolved ORACLE should target: the
    model-sidecar oracles (kmeans/PCA/IVF/PQ/NB) embed a FITTED model
    for one specific dataset, so their SQL must be generated for the
    same dir the harness is comparing at — SPARK_GRAFT_SF_DIR when the
    local harnesses (tools/check_subset.py, tools/sweep_config_free.py)
    set it, else the driver's fixed correctness dir. Resolved at
    oracle_sql() time, never at import."""
    return sf_dir_from_env("/root/testdata/sf0.01")


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register fixture tables as temp views (same names DuckDB
    pre-registers), so ``spark.sql`` queries and oracle SQL read the
    same relations. Pass ``tables`` to register only what the query
    actually touches — a broken or unreadable unrelated table must not
    take down the query (it did in round 1: grouping_sets never reads
    events yet crashed loading it)."""
    for name in tables:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def _parse_byte_conf(v: str) -> int:
    """Parse Spark size-conf strings ("134217728", "134217728b",
    "128m", "1g", "1t") — the suffix set JavaUtils.byteStringAs
    accepts. Raises ValueError on anything else; the caller falls back
    to the RDD probe rather than failing the query."""
    s = v.strip().lower()
    mult = 1
    for suffix, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
        ("tb", 1 << 40), ("pb", 1 << 50),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
        ("t", 1 << 40), ("p", 1 << 50), ("b", 1),
    ):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    return int(s) * mult


_SCAN_SPLITS_CACHE: dict[tuple, int] = {}


def _probe_cached(df: DataFrame, files: list[str]) -> int:
    """RDD-probe fallback, memoized per file set so the conversion cost
    is paid once per process even on paths the estimator can't size."""
    key = ("__rdd_probe__", tuple(sorted(files)))
    n = _SCAN_SPLITS_CACHE.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _SCAN_SPLITS_CACHE[key] = n
    return n


def _estimated_scan_splits(df: DataFrame) -> int:
    """Scan partition count from the FILE LISTING, not ``df.rdd``.

    ``df.rdd.getNumPartitions()`` materializes an RDD conversion on the
    driver per call (VERDICT r5 "what's wrong" #3) — inside every
    registered query that widens. Instead replicate the sizing math of
    Spark's FilePartition.getFilePartitions from ``df.inputFiles()`` +
    os.path.getsize:

        maxSplitBytes = min(maxPartitionBytes,
                            max(openCostInBytes, totalBytes/parallelism))
        splits ≈ ceil(Σ(size_i + openCost) / maxSplitBytes)

    Memoized per (file set, sizing confs); falls back to the RDD probe
    for non-file-backed plans (none of the registered queries hit it).
    """
    spark = df.sparkSession
    files = df.inputFiles()
    if not files:
        return df.rdd.getNumPartitions()
    try:
        max_part = _parse_byte_conf(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        open_cost = _parse_byte_conf(
            spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
        )
    except ValueError:
        return _probe_cached(df, files)  # exotic size conf: RDD probe
    parallelism = spark.sparkContext.defaultParallelism
    # sizes participate in the memo key, so an in-place rewrite of the
    # same file names (regenerated fixtures, overwritten output dir)
    # invalidates the cached count; getsize per call is microseconds.
    sizes = []
    for f in files:
        path = f.removeprefix("file://")
        try:
            sizes.append(os.path.getsize(path))
        except OSError:
            return _probe_cached(df, files)  # remote FS
    key = (tuple(sorted(files)), tuple(sorted(sizes)), max_part, open_cost, parallelism)
    cached = _SCAN_SPLITS_CACHE.get(key)
    if cached is not None:
        return cached
    total = sum(s + open_cost for s in sizes)
    max_split = max(1, min(max_part, max(open_cost, total // max(parallelism, 1))))
    # chop each file into ≤max_split chunks, then greedy-pack largest
    # first with open_cost padding — FilePartition.getFilePartitions
    chunks: list[int] = []
    for s in sizes:
        chunks.extend([max_split] * (s // max_split))
        if s % max_split or s == 0:
            chunks.append(s % max_split)
    chunks.sort(reverse=True)
    n = cur = 0
    for c in chunks:
        if cur + c > max_split and cur > 0:
            n += 1
            cur = 0
        cur += c + open_cost
    n += 1 if cur > 0 else 0
    n = max(1, n)
    _SCAN_SPLITS_CACHE[key] = n
    return n


def widen_if_few_splits(df: DataFrame, *key_cols: str) -> DataFrame:
    """Decouple CPU parallelism from input-split count.

    The local fixtures are single-row-group parquet files, so a scan
    yields ~1 productive task regardless of cores and a compute-heavy
    partial aggregation runs nearly single-threaded. When (and only
    when) the scan has fewer partitions than the cluster's default
    parallelism, repartition on ``key_cols`` so the expensive
    projection/partial-agg stage runs wide. On a real cluster a 100 TB
    scan has orders of magnitude more splits than cores and this is a
    no-op — the extra shuffle exists precisely and only in the
    few-split regime where it pays for itself.

    ``key_cols`` must be high-cardinality: a keyed repartition survives
    optimization, while a round-robin one under an Aggregate is
    eliminated as redundant (observed: the optimizer drops it and the
    partial agg stays on the narrow scan).
    """
    if os.environ.get("SPARK_GRAFT_NO_WIDEN") == "1":
        # Diagnostic bypass (tools/scale_stress.py shape check): the
        # widen exchange absorbs/displaces required exchanges depending
        # on whether the scan is few-split, which makes raw plan-shape
        # comparisons across scales read as drift. Disabling it isolates
        # the optimizer's own decisions. Never set for timed runs.
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if _estimated_scan_splits(df) < target:
        return df.repartition(target, *key_cols)
    return df
