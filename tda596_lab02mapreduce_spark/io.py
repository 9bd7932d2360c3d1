"""Fixture table loaders (TESTDATA.md / FIXTURES.md).

The ten driver-generated parquet tables. ``load`` returns a DataFrame
per table; ``register_views`` exposes all of them as temp views so
SQL-shaped queries mirror the DuckDB oracle exactly.

Every fixture file is read through the session catalog. ``table``
resolves ``<sf_dir>/<name>.parquet`` to one EXTERNAL parquet table,
``fixture_<name>_<sha1(path)[:12]>``, created on its first load in the
session and read with ``spark.table`` after that. Creating it infers
the schema once (one footer-reading job); every later read plans from
the stored schema and the catalog's cached relation, with no inference
job and no re-listing. What is reused is metadata only, the schema and
the file listing, never rows. It lives in the catalog of the session's
``SparkContext`` and ends with it. The table is external, so dropping
it never touches the files, and nothing is written under ``sf_dir``.

The contract this rests on: the files under an sf dir do not change
while a session has them loaded. A writer that replaces a loaded file
must call ``spark.catalog.refreshTable(name)`` before reading it again.
No caller in this repo does: tests build fresh ``tmp_path`` sf dirs,
and ``tools/scale_stress.py`` rmtree's and writes each output dir
before it first reads it.

Catalyst still owns predicate pushdown, column pruning and split
sizing, and at 100 TB the same table simply fans out over more splits.
``widen_if_few_splits`` reads that split count back from the scan in
the frame's physical plan rather than re-deriving it, so it follows
every split conf Spark does and needs no file sizes.
"""

from __future__ import annotations

import hashlib
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


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The raw fixture table ``name`` of ``sf_dir``, read through its
    external catalog table (created here on first use; see the module
    docstring)."""
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; known: {TABLES}")
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) in parquet, which vanilla Spark
        # rejects (PARQUET_TYPE_ILLEGAL). nanosAsLong is a *runtime* SQL
        # conf, so set it here — before the schema is inferred and
        # before every read — rather than relying on the session builder
        # having done it: any caller-provided session (e.g. the
        # correctness harness's default one) works.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    catalog_name = f"fixture_{name}_{hashlib.sha1(path.encode()).hexdigest()[:12]}"
    if not spark.catalog.tableExists(catalog_name):
        spark.catalog.createTable(catalog_name, path=path, source="parquet")
    return spark.table(catalog_name)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = table(spark, sf_dir, name)
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

    ``df`` is one file scan, optionally filtered or projected. Its split
    count is the partition count of the scan leaf of its physical plan
    (``FileSourceScanExec.inputRDD``): the tasks Spark will run, as
    ``FilePartition`` packed them under the session's split confs
    (``maxPartitionBytes``, ``openCostInBytes``, ``minPartitionNum``,
    ``maxPartitionNum``, ``leafNodeDefaultParallelism``). Asking plans
    the frame and packs the file listing cached when it was read; it
    runs no job and keeps nothing between calls.

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
    target = df.sparkSession.sparkContext.defaultParallelism
    scan = df._jdf.queryExecution().sparkPlan().collectLeaves().head()
    if scan.inputRDD().getNumPartitions() < target:
        return df.repartition(target, *key_cols)
    return df
