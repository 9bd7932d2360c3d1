"""Source / sink surface (SURVEY.md §2B rows Scans + Sinks).

The reference reads whole local text files through the coordinator
(mr/coordinator.go:86-97 — an O(total-data) single-node bottleneck)
and writes partitioned `key value` text (mr/worker.go:136-157).
Here every format is a distributed scan with pushdown/pruning, and
every sink is committer-protected (≙ the reference's tmp+rename,
built in).

``read_whole_files`` preserves the reference's exact input
granularity — (filename, contents), one row per file — for the
MapReduce façade. Line-granularity ``read_text_lines`` is the
scalable default (a 10 GB file splits across executors).

Formats with nothing to configure (parquet, ORC, JSON and CSV out) are
read and written with ``spark.read`` / ``df.write`` directly; the
helpers here set reader options (CSV, JSON in) or check for a connector
(Avro).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_whole_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """(filename, contents), one row per whole file — the reference's
    map-input contract (mapf's two arguments, mr/worker.go:36)."""
    return (
        spark.read.text(path_glob, wholetext=True)
        .select(
            F.input_file_name().alias("filename"),
            F.col("value").alias("contents"),
        )
    )


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """(filename, line) at line granularity — splittable, the 100 TB
    default for text. ``path`` is a file, a directory or a glob."""
    return spark.read.text(path).select(
        F.input_file_name().alias("filename"), F.col("value").alias("line")
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """CSV scan. Always pass a schema in production — inference is a
    full extra pass over the data."""
    reader = spark.read.options(header="true", **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    **options: str,
) -> DataFrame:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def avro_available(spark: SparkSession) -> bool:
    """True when the spark-avro SQL connector is on the classpath.

    Spark ships Avro as an EXTERNAL data source module (the core
    avro-1.x jars in pyspark/jars are the serialization library, not
    the connector), and this container has no network to fetch
    ``org.apache.spark:spark-avro`` — so the Avro round-trip is an
    env-gated capability exactly like the Pillow codec path
    (operators/multimodal.py): the plumbing below is real and tested
    via pytest.importorskip-style gating, and lights up unmodified the
    moment the jar is deployable."""
    try:
        # the authoritative probe is Spark's own provider resolution:
        # AvroFileFormat CLASSES ship inside spark-catalyst (so a bare
        # Class.forName succeeds misleadingly), but lookupDataSource
        # rejects "avro" unless the connector module is deployed
        conf = spark._jvm.org.apache.spark.sql.internal.SQLConf.get()
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", conf
        )
        return True
    except Exception:
        return False


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    if not avro_available(spark):
        raise NotImplementedError(
            "Avro scan requires the spark-avro connector jar "
            "(org.apache.spark:spark-avro) — not present in this "
            "container; deploy with --packages org.apache.spark:"
            f"spark-avro_2.13:{spark.version} to enable"
        )
    return spark.read.format("avro").load(path)


def write_avro(df: DataFrame, path: str) -> None:
    if not avro_available(df.sparkSession):
        raise NotImplementedError(
            "Avro sink requires the spark-avro connector jar "
            "(org.apache.spark:spark-avro) — not present in this "
            "container; deploy with --packages org.apache.spark:"
            f"spark-avro_2.13:{df.sparkSession.version} to enable"
        )
    df.write.mode("overwrite").format("avro").save(path)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    *,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(rows / target_rows_per_file)`` files.

    The operational fix for the classic streaming/ingest pathology —
    thousands of KB-sized files per partition turning every downstream
    scan into a task-scheduling storm. Uses the actual row count (one
    count job over footers — parquet scans answer count() from
    metadata, no data read) rather than a guessed coalesce factor, and
    a round-robin ``repartition(n)`` so output files are even-sized
    regardless of input skew. Write goes through the same
    FileOutputCommitter as every sink (atomic: _SUCCESS marker or
    nothing). Returns the number of files written.

    At 100 TB this runs per partition directory as a maintenance job;
    target_rows_per_file ≈ row-group-budget × groups-per-file keeps
    files in the 128 MB–1 GB sweet spot for any column width.
    """
    import os

    if os.path.abspath(src) == os.path.abspath(dst):
        # overwrite-mode deletes dst BEFORE the lazy scan of src runs —
        # an in-place call would destroy the input. Compact to a
        # sibling dir and swap (or re-point readers) instead.
        raise ValueError("compact_parquet: dst must differ from src")
    df = spark.read.parquet(src)
    rows = df.count()
    n_files = max(1, -(-rows // target_rows_per_file))
    df.repartition(n_files).write.mode("overwrite").parquet(dst)
    return n_files
