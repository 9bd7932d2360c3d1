"""Sink round-trips (SURVEY.md §2B row 2): write through the engine's
committer-protected sinks, re-scan the files, and prove the data
survived bit-exactly against the DuckDB oracle over the ORIGINAL
tables. The reference's analogue is its final `mr-out-*` text output
diffed against the sequential oracle (main/test-mr.sh:103-104).

Output paths live under <repo>/.tmp/pid-<os.getpid()> (gitignored);
each query overwrites its own directory, so repeated invocations are
idempotent — and because the scratch base is PER PROCESS, concurrent
harnesses (pytest + the config-free sweep, or an overlapped driver
run) can never delete each other's in-flight sink state (the race
behind the round-7 transient 'version 1 not in manifest' failure).
Dead processes' scratch is reaped lazily at the next import; this
process's scratch is removed at interpreter exit.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import io, sources
from tda596_lab02mapreduce_spark.registry import register

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_TMP_ROOT = os.path.join(_REPO_ROOT, ".tmp")
_SCRATCH = os.path.join(_TMP_ROOT, f"pid-{os.getpid()}")


def _reap_stale_scratch() -> None:
    """Best-effort removal of scratch left by DEAD processes only —
    never a live concurrent harness's directory."""
    try:
        entries = os.listdir(_TMP_ROOT)
    except FileNotFoundError:
        return
    for entry in entries:
        if not entry.startswith("pid-"):
            continue  # pre-round-8 flat layout or foreign files: leave
        try:
            pid = int(entry[4:])
        except ValueError:
            continue
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)  # signal 0: existence probe, no delivery
        except ProcessLookupError:
            shutil.rmtree(os.path.join(_TMP_ROOT, entry), ignore_errors=True)
        except PermissionError:
            pass  # alive under another uid — definitely not ours to reap


_reap_stale_scratch()
atexit.register(shutil.rmtree, _SCRATCH, ignore_errors=True)


def _sink_path(sf_dir: str, name: str) -> str:
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    return os.path.join(_SCRATCH, f"{name}_{tag}")


@register(
    "sink_partitioned_roundtrip",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY o_orderstatus
""",
    doc=(
        "Partitioned parquet sink + re-scan: orders written "
        "partitionBy(o_orderstatus) through the FileOutputCommitter "
        "(atomic tmp+rename, the reference's mr/coordinator.go:37-53 "
        "contract), read back from the hive-style layout, aggregated — "
        "the oracle runs on the ORIGINAL table, so any loss/corruption/"
        "type-drift in the sink-scan cycle breaks the hash."
    ),
    tags=("sink", "source"),
)
def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = io.load(spark, sf_dir, "orders")
    path = _sink_path(sf_dir, "orders_by_status")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


@register(
    "sink_text_kv_roundtrip",
    oracle=r"""
SELECT word AS key, CAST(count(*) AS BIGINT) AS cnt
FROM (
  SELECT unnest(string_split_regex(text, '[^\p{L}]+')) AS word
  FROM documents
) t
WHERE word <> ''
GROUP BY word
""",
    doc=(
        "The reference's A10 text sink round-tripped: wordcount results "
        "written as partitioned `key value` text (mr/worker.go:152 "
        "format), re-read at line granularity, parsed back to typed "
        "columns, and hash-matched against the wordcount oracle — "
        "proving the sink, the text scan, and the parse are lossless."
    ),
    tags=("sink", "source", "text"),
)
def sink_text_kv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.mapreduce import save_text_kv

    docs = io.load(spark, sf_dir, "documents")
    from tda596_lab02mapreduce_spark.functions.text import tokens_nonempty

    wc = (
        docs.select(F.explode(tokens_nonempty("text")).alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("string").alias("value"))
    )
    path = _sink_path(sf_dir, "wc_text_kv")
    save_text_kv(wc, path)
    # the directory, not a part-* glob: Spark's listing skips _SUCCESS
    # and dot-files, and a glob makes it probe part-*/_spark_metadata
    # (a FileStreamSink WARN with a stack trace on every call)
    lines = sources.read_text_lines(spark, path)
    parsed = lines.select(
        F.regexp_extract("line", r"^(\S+) (\S+)$", 1).alias("key"),
        F.regexp_extract("line", r"^(\S+) (\S+)$", 2).cast("long").alias("cnt"),
    )
    return parsed


@register(
    "source_compact_small_files",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS sum_chars,
       CAST(ceil(count(*) / 120.0) AS INT) AS n_files
FROM documents
""",
    doc=(
        "Small-file compaction as a query (§2C row, was test-only in r2): "
        "documents is deliberately fragmented into 64 tiny parquet files "
        "(the streaming-ingest pathology), compacted with "
        "sources.compact_parquet into ceil(rows/120) even-sized files, "
        "and read back. The oracle checks BOTH halves of the contract "
        "against the ORIGINAL table: content losslessness (row count, "
        "distinct keys, decimal checksum) and the file-count formula — "
        "n_files is the ACTUAL post-compaction part-file count from the "
        "filesystem, embedded as a literal, so a compaction that wrote "
        "the wrong number of files hash-mismatches. Operator: one "
        "metadata-only count + one round-robin repartition write "
        "(sources/files.py:compact_parquet); at 100 TB this runs per "
        "partition directory as a maintenance job."
    ),
    tags=("source", "sink", "maintenance"),
)
def source_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    docs = io.load(spark, sf_dir, "documents")
    frag = _sink_path(sf_dir, "docs_fragmented")
    compacted = _sink_path(sf_dir, "docs_compacted")
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    sources.compact_parquet(spark, frag, compacted, target_rows_per_file=120)
    n_files = len(glob.glob(f"{compacted}/part-*"))
    back = spark.read.parquet(compacted)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("long").alias("sum_chars"),
        F.lit(n_files).cast("int").alias("n_files"),
    )


@register(
    "source_schema_evolution_merge",
    oracle="""
SELECT CAST(doc_id % 2 AS INT) AS generation,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_scored,
       CAST(SUM(CASE WHEN doc_id % 2 = 1
                     THEN CAST(n_chars % 100 AS DECIMAL(18,2)) END) AS DOUBLE)
         AS sum_score
FROM documents
GROUP BY 1
""",
    doc=(
        "Schema evolution across ingest generations as a query (§2C "
        "row, was test-only in r2): generation 0 of documents is "
        "written WITHOUT quality_score, generation 1 WITH it, and a "
        "single mergeSchema scan reads both as one table — old rows "
        "surface NULL for the added column, no rewrite of old data. "
        "The aggregate proves the merge semantics against the ORIGINAL "
        "table: per-generation row counts, the count of non-NULL "
        "scores (must be exactly the generation-1 rows), and the "
        "decimal-summed score values. At 100 TB additive schema drift "
        "is the norm; mergeSchema on read (or a declared superset "
        "schema) is the zero-rewrite answer."
    ),
    tags=("source", "schema"),
)
def source_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    path = _sink_path(sf_dir, "docs_evolving")
    docs.filter(F.col("doc_id") % 2 == 0).write.mode("overwrite").parquet(path)
    docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "quality_score", (F.col("n_chars") % 100).cast("double")
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.groupBy(
        (F.col("doc_id") % 2).cast("int").alias("generation")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("quality_score").alias("n_scored"),
        F.sum(F.col("quality_score").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_score"),
    )


@register(
    "source_binaryfile_scan",
    oracle="""
SELECT doc_id AS media_id,
       CAST(n_chars + 1 AS BIGINT) AS n_bytes,
       md5(text || chr(10)) AS content_md5
FROM documents
""",
    doc=(
        "binaryFile format scan — Spark's whole-file binary source, the "
        "ingestion path for image/audio/video corpora where each file is "
        "one opaque blob (complements the multimodal_* band, which gets "
        "its blobs from a column). Staging: each document is written to "
        "its own file by a DISTRIBUTED partitionBy text write (no "
        "driver-side file loop); the query then scans the directory tree "
        "with binaryFile + recursiveFileLookup + pathGlobFilter, "
        "recovers the id from the hive-style path, and md5/length-checks "
        "every blob against the ORIGINAL table (text files carry one "
        "trailing newline, hence n_chars+1 — fixture text is ASCII and "
        "newline-free, pinned in tests/test_multimodal.py). At 100 TB "
        "binaryFile is the listing-parallel scan for billions of media "
        "files; content never rides a shuffle here — the aggregate-free "
        "projection keeps blobs inside their scan tasks."
    ),
    tags=("source", "multimodal"),
)
def source_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    path = _sink_path(sf_dir, "docs_binfiles")
    # One file per doc means thousands of tiny task commits; re-staging
    # on every call dominated the query (7.4 s of 7.4 s at sf0.01).
    # Reuse the staged tree when a cheap corpus fingerprint (count +
    # crc32 fold of id:text) is unchanged — any regeneration of the
    # fixture changes the fingerprint and forces a rewrite, and the
    # md5 check in the output would expose a stale tree regardless.
    fp_row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.concat_ws(":", F.col("doc_id"), F.col("text")))).alias("c"),
    ).collect()[0]
    fingerprint = f"{fp_row.n}:{fp_row.c}"
    marker = os.path.join(path, "_staging_fingerprint")
    stale = True
    try:
        with open(marker, "r", encoding="utf-8") as fh:
            stale = fh.read().strip() != fingerprint
    except OSError:
        pass
    if stale:
        docs.select(
            F.col("text").alias("value"), F.col("doc_id")
        ).write.mode("overwrite").partitionBy("doc_id").text(path)
        with open(marker, "w", encoding="utf-8") as fh:
            fh.write(fingerprint)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .option("recursiveFileLookup", "true")
        .load(path)
    )
    return blobs.select(
        F.regexp_extract("path", r"doc_id=(\d+)", 1).cast("bigint").alias("media_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@register(
    "source_partition_pruning",
    oracle="""
SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
""",
    doc=(
        "Hive-style partition pruning: events written partitionBy("
        "event_type), re-read with an event_type predicate — the scan "
        "must prune to ONE directory via PartitionFilters (pinned in "
        "tests/test_plans.py: the filter appears as a partition filter, "
        "not a data filter, so non-matching files are never opened or "
        "listed into tasks). At 100 TB partition layout is the coarsest "
        "and cheapest pruning lever — metadata-only, ahead of row-group "
        "stats and Bloom filters — and the thing that turns a full-"
        "corpus scan into a per-slice one. Oracle aggregates the "
        "filtered ORIGINAL table, so pruning that dropped or duplicated "
        "a partition breaks the hash."
    ),
    tags=("source", "plan"),
)
def source_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.load(spark, sf_dir, "events")
    path = _sink_path(sf_dir, "events_by_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    return back.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


@register(
    "sink_orc_roundtrip",
    oracle="""
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM part
GROUP BY p_brand
""",
    doc=(
        "ORC sink + re-scan: part written as ORC (Spark's second "
        "first-class columnar format, same vectorized FileSourceScan + "
        "pushdown path as parquet), read back, aggregated; oracle runs "
        "on the ORIGINAL parquet — any type drift across the "
        "parquet→ORC→scan cycle breaks the hash."
    ),
    tags=("sink", "source"),
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = io.load(spark, sf_dir, "part")
    path = _sink_path(sf_dir, "part_orc")
    part.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.col("p_retailprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


# NOT registered: env-gated like the Pillow codec path and
# transformWithState — the spark-avro connector jar is absent from
# this container (and there is no network to fetch it), so the Avro
# round-trip cannot run here.  The plumbing is complete and the gate
# is loud (sources.write_avro/read_avro raise NotImplementedError with
# the exact --packages coordinate); tests/test_sources.py carries the
# skip-unless-available round-trip so the query self-verifies the
# moment the jar appears.  Same aggregate contract as
# sink_orc_roundtrip, so the identical DuckDB oracle applies then.
def avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = io.load(spark, sf_dir, "part")
    path = _sink_path(sf_dir, "part_avro")
    sources.write_avro(part, path)
    back = sources.read_avro(spark, path)
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.col("p_retailprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


@register(
    "sink_csv_roundtrip",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_cust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
FROM customer
GROUP BY c_mktsegment
""",
    doc=(
        "CSV sink + re-scan with explicit schema (CSV is typeless, so the "
        "read-back declares the types — inference is both a second full "
        "pass and a correctness hazard). Doubles survive because Spark "
        "writes shortest-round-trip decimal strings; the aggregate is "
        "hash-matched against the ORIGINAL parquet table."
    ),
    tags=("sink", "source"),
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = io.load(spark, sf_dir, "customer")
    path = _sink_path(sf_dir, "customer_csv")
    cust.write.mode("overwrite").option("header", "true").csv(path)
    back = sources.read_csv(
        spark,
        path,
        schema="c_custkey BIGINT, c_name STRING, c_nationkey INT, "
        "c_acctbal DOUBLE, c_mktsegment STRING",
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_bal"),
    )


@register(
    "sink_json_roundtrip",
    oracle="""
SELECT CAST(s_nationkey AS INT) AS s_nationkey,
       CAST(count(*) AS BIGINT) AS n_supp,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
FROM supplier
GROUP BY s_nationkey
""",
    doc=(
        "JSON-lines sink + re-scan with explicit schema (schemaless "
        "format, declared types on read — same rationale as CSV). "
        "Aggregate hash-matched against the ORIGINAL parquet table."
    ),
    tags=("sink", "source"),
)
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = io.load(spark, sf_dir, "supplier")
    path = _sink_path(sf_dir, "supplier_json")
    supp.write.mode("overwrite").json(path)
    back = sources.read_json(
        spark,
        path,
        schema="s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    )
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_bal"),
    )


@register(
    "source_python_wholefile",
    oracle=r"""
SELECT word, CAST(count(*) AS BIGINT) AS cnt
FROM (
  SELECT unnest(string_split_regex(text, '[^\p{L}]+')) AS word
  FROM documents
) t
WHERE word <> ''
GROUP BY word
""",
    doc=(
        "The reference's custom whole-file source (mr/coordinator.go:"
        "86-97, one map task per file) rebuilt as a pluggable Spark 4 "
        "Python DataSource (sources/pydatasource.py): partitions() "
        "yields one InputPartition per staged file — nMap = len(files), "
        "mr/coordinator.go:190 — and read() opens its file ON THE "
        "EXECUTOR, unlike the reference's coordinator-reads-everything "
        "RPC hop. The corpus is staged as 8 text files (the reference's "
        "8 pg-*.txt inputs), read back whole via the plugin, and "
        "word-counted with the exact wc.go tokenizer; the oracle "
        "recomputes the count from the ORIGINAL table, so a file "
        "dropped, duplicated, or truncated by the source breaks the "
        "hash. Newlines introduced by the line-oriented staging write "
        "are token separators just like any non-letter, so the token "
        "multiset is invariant to the file layout."
    ),
    tags=("source", "text", "udf"),
)
def source_python_wholefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.text import tokens_nonempty
    from tda596_lab02mapreduce_spark.sources.pydatasource import (
        register_wholefile_source,
    )

    docs = io.load(spark, sf_dir, "documents")
    path = _sink_path(sf_dir, "docs_wholefiles")
    # Distributed staging: 8 part files, mirroring the reference's
    # 8-file corpus; layout (which doc lands in which file) does not
    # affect the aggregate, so round-robin repartition is fine.
    docs.select("text").repartition(8).write.mode("overwrite").text(path)
    register_wholefile_source(spark)
    files = (
        spark.read.format("wholefile_text")
        .option("glob", os.path.join(path, "part-*"))
        .load()
    )
    return (
        files.select(F.explode(tokens_nonempty("content")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "sink_python_textkv_roundtrip",
    oracle=r"""
SELECT word, CAST(count(*) AS BIGINT) AS cnt
FROM (
  SELECT unnest(string_split_regex(text, '[^\p{L}]+')) AS word
  FROM documents
) t
WHERE word <> ''
GROUP BY word
""",
    doc=(
        "The reference's partitioned `key value` text sink (A10, "
        "mr/worker.go:136-157) with its tmp+rename atomic commit (A11, "
        "mr/coordinator.go:37-53) rebuilt on the pluggable Python "
        "DataSourceWriter protocol (sources/pydatasource.py:"
        "KVTextSinkDataSource): tasks write temp files and return "
        "commit messages; the driver renames tmp-worker-*-out-<p> to "
        "mr-out-<p> only after every task succeeds; abort() leaves no "
        "committed output. The query word-counts the corpus, writes "
        "through the custom sink at nReduce=10 (the reference's "
        "hard-coded reduce fan-out, main/mrcoordinator.go:23), reads "
        "the committed files back, and re-parses them — so a dropped, "
        "double-committed, or mis-renamed partition breaks the hash "
        "against the oracle recomputed from the original table."
    ),
    tags=("sink", "text", "udf"),
)
def sink_python_textkv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.functions.text import tokens_nonempty
    from tda596_lab02mapreduce_spark.sources.pydatasource import (
        register_textkv_sink,
    )

    docs = io.load(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokens_nonempty("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    path = _sink_path(sf_dir, "wc_textkv_pysink")
    register_textkv_sink(spark)
    (
        wc.repartition(10, "word")  # nReduce=10, ihash(key)%nReduce ≙ repartition
        .write.format("textkv_sink")
        .option("path", path)
        .mode("overwrite")
        .save()
    )
    # the committed files by name: a glob would make Spark probe
    # mr-out-*/_spark_metadata (a FileStreamSink WARN per call), and the
    # bare directory would also read a crashed writer's tmp-worker-* file
    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.startswith("mr-out-")
    )
    lines = spark.read.text(files)
    parts = F.split(F.col("value"), " ")
    return lines.select(
        parts.getItem(0).alias("word"),
        parts.getItem(1).cast("bigint").alias("cnt"),
    )


def _zvalue(a, b):
    """Morton/Z-order interleave of the low 16 bits of two keys — a
    constant-size JVM expression chain (no UDF): bit i of a lands at
    2i, bit i of b at 2i+1."""
    a = F.pmod(a.cast("long"), F.lit(1 << 16))
    b = F.pmod(b.cast("long"), F.lit(1 << 16))
    z = F.lit(0).cast("long")
    for i in range(16):
        z = (
            z.bitwiseOR(
                F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            ).bitwiseOR(
                F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            )
        )
    return z


@register(
    "source_zorder_clustering",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem
WHERE l_partkey BETWEEN 100 AND 200 AND l_suppkey BETWEEN 10 AND 20
""",
    doc=(
        "Z-order clustered data layout: lineitem rewritten range-"
        "partitioned + sorted on the Morton interleave of (l_partkey, "
        "l_suppkey), then re-read with a 2-D predicate. Because the "
        "z-curve keeps BOTH keys locally dense inside every file, the "
        "parquet min/max stats of each file span narrow ranges of both "
        "columns, and a conjunctive predicate skips most files/row-"
        "groups — multi-dimensional data skipping that single-column "
        "sort cannot give (sorting by partkey alone leaves suppkey "
        "uniform in every file). This is the hand-rolled core of what "
        "table formats call Z-ORDER clustering, one layer finer than "
        "source_partition_pruning's directory-level pruning; the "
        "locality factor is asserted in tests/test_sources.py (the 2-D "
        "probe touches a strict subset of files under z-layout). "
        "Oracle aggregates the same predicate on the ORIGINAL table, "
        "so any row lost or duplicated by the rewrite breaks the hash."
    ),
    tags=("source", "plan"),
)
def source_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    path = _sink_path(sf_dir, "lineitem_zorder")
    (
        li.withColumn("__z", _zvalue(F.col("l_partkey"), F.col("l_suppkey")))
        .repartitionByRange(16, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(
        F.col("l_partkey").between(100, 200) & F.col("l_suppkey").between(10, 20)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "source_dynamic_partition_pruning",
    oracle="""
WITH ev AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type, value
  FROM events
),
daily AS (SELECT day, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY day),
quiet AS (
  SELECT day FROM daily, (SELECT SUM(n) AS t, count(*) AS k FROM daily) s
  WHERE daily.n * s.k < s.t
)
SELECT e.day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM ev e JOIN quiet q ON e.day = q.day
GROUP BY e.day
""",
    doc=(
        "DYNAMIC partition pruning (the runtime sibling of "
        "source_partition_pruning's static prune): events are written "
        "partitionBy(day), then joined against a dim of 'quiet' days "
        "(strictly below-average traffic) that is only knowable at "
        "runtime — so no static filter exists, and the fact scan must "
        "instead receive a dynamicpruning#N subquery in its "
        "PartitionFilters (pinned in tests/test_plans.py) that "
        "broadcasts the dim's day set and skips the other ~half of "
        "the partition directories before any task reads them. At "
        "100 TB this is THE mechanism that keeps star-schema joins "
        "from scanning every date partition when the dim filter "
        "arrives as data, not as a literal. Oracle recomputes both "
        "the quiet-day set and the join on the ORIGINAL table, so "
        "over- or under-pruning breaks the hash; the threshold "
        "compare (n·k < t) is pure integer."
    ),
    tags=("source", "plan", "join"),
)
def source_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type", "value"
    )
    path = _sink_path(sf_dir, "events_by_day")
    ev.write.mode("overwrite").partitionBy("day").parquet(path)
    fact = spark.read.parquet(path)
    daily = ev.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    # Threshold via an all-rows window over the DAILY table (day
    # cardinality — bounded, so the single window partition is fine),
    # not a crossJoin of the scalar: PartitionPruning only inserts the
    # dynamicpruning subquery when the dim side's selective filter sits
    # in a join-free subtree, so the scalar-join formulation silently
    # loses the prune (verified both ways on this build).
    from pyspark.sql.window import Window

    w = Window.partitionBy()
    quiet = (
        daily.withColumn("t", F.sum("n").over(w))
        .withColumn("k", F.count(F.lit(1)).over(w))
        .filter(F.col("n") * F.col("k") < F.col("t"))
        .select("day")
    )
    # Explicit broadcast: the day dim is O(days) rows, but its static
    # size estimate flows through an aggregate (unknown-large), which
    # would plan a sort-merge join and — under DPP's reuseBroadcastOnly
    # default — suppress the dynamic pruning subquery. The hint makes
    # the broadcast (and therefore the prune) part of the static plan.
    return (
        fact.join(F.broadcast(quiet), "day")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


_CORRUPT_ROWS = 7


@register(
    "source_csv_corrupt_records",
    oracle=f"""
SELECT CAST(count(*) + {_CORRUPT_ROWS} AS BIGINT) AS n_total,
       CAST({_CORRUPT_ROWS} AS BIGINT) AS n_corrupt,
       CAST(count(*) AS BIGINT) AS n_good,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
FROM customer
""",
    doc=(
        "Resilient CSV ingestion: the customer table staged as CSV with "
        "a deterministic bad-rows file injected (unparseable key and "
        "numeric fields), read back under PERMISSIVE mode with an "
        "explicit schema — malformed fields parse to NULL instead of "
        "failing the job, and the query reports total/corrupt/good "
        "counts plus the balance sum over good rows. The ingest-time "
        "contract at 100 TB: one bad upstream shard must cost a "
        "quarantine count, not a pipeline abort (FAILFAST is the "
        "opposite trade, documented here by contrast). Corruption is "
        "detected as an unparseable (NULL) primary key; the oracle "
        "recomputes from the ORIGINAL table plus the known injection "
        "count, so silently dropped or mis-parsed good rows break the "
        "hash."
    ),
    tags=("source", "quality"),
)
def source_csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = io.load(spark, sf_dir, "customer")
    path = _sink_path(sf_dir, "customer_csv_corrupt")
    cust.write.mode("overwrite").option("header", "true").csv(path)
    # Inject a bad file: first line is consumed as that file's header
    # (header=true skips one line per file), then _CORRUPT_ROWS rows
    # whose key/numeric fields cannot parse under the declared schema.
    bad = "\n".join(
        ["c_custkey,c_name,c_nationkey,c_acctbal,c_mktsegment"]
        + [f"CORRUPT_{i},bad-row-{i},XX,not-a-number,JUNK" for i in range(_CORRUPT_ROWS)]
    )
    with open(os.path.join(path, "part-corrupt.csv"), "w") as fh:
        fh.write(bad + "\n")
    back = sources.read_csv(
        spark,
        path,
        schema="c_custkey BIGINT, c_name STRING, c_nationkey INT, "
        "c_acctbal DOUBLE, c_mktsegment STRING",
        mode="PERMISSIVE",
    )
    good_key = F.col("c_custkey").isNotNull()
    return back.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(~good_key, 1)).alias("n_corrupt"),
        F.count(F.when(good_key, 1)).alias("n_good"),
        F.sum(F.when(good_key, F.col("c_acctbal").cast("decimal(18,2)")))
        .cast("double")
        .alias("sum_bal"),
    )


@register(
    "sink_versioned_time_travel",
    oracle="""
WITH v1 AS (
  SELECT CAST(1 AS INT) AS version,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
           AS sum_bal_cents
  FROM customer
), v2 AS (
  SELECT CAST(2 AS INT) AS version,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)
                  + CASE WHEN c_mktsegment = 'BUILDING' THEN 500 ELSE 0 END)
              AS BIGINT) AS sum_bal_cents
  FROM customer WHERE c_custkey % 10 <> 0
)
SELECT * FROM v1 UNION ALL SELECT * FROM v2
""",
    doc=(
        "Versioned sink + time-travel read (sources/versioned.py): "
        "snapshot v1 = the customer table in integer cents; v2 = a "
        "deterministic update batch (BUILDING segment credited 500 "
        "cents, every 10th customer deleted) committed as a NEW "
        "immutable snapshot with an atomic manifest pointer swap — "
        "the miniature of how log-structured table formats publish "
        "(data files first, then one atomic metadata replace). The "
        "query then time-travels: reads v1 BY VERSION NUMBER after v2 "
        "became current, reads v2 as latest, and aggregates both; "
        "the oracle recomputes each snapshot from the ORIGINAL table, "
        "so a reader seeing a half-published version, the manifest "
        "pointing at the wrong snapshot, or v1 mutated by the v2 "
        "commit all break the hash."
    ),
    tags=("sink", "source", "versioned"),
)
def sink_versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.sources import versioned

    cust = io.load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("bal_cents"),
    )
    base = _sink_path(sf_dir, "versioned_customer")
    # fresh scratch base per run: write_version keeps the FIRST commit
    # of a version (immutability guard), so a stale base from an older
    # fixture generation would pin outdated data under v=1. Safe to
    # delete since round 8: _sink_path is pid-suffixed, so this rmtree
    # can only ever hit THIS process's snapshots (the round-7 sweep
    # failure was a concurrent harness losing its v=1 here).
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    versioned.write_version(cust, base, 1)
    v2 = cust.filter(F.col("c_custkey") % 10 != 0).withColumn(
        "bal_cents",
        F.col("bal_cents")
        + F.when(F.col("c_mktsegment") == "BUILDING", 500).otherwise(0),
    )
    versioned.write_version(v2, base, 2)

    def _agg(df: DataFrame, v: int) -> DataFrame:
        return df.agg(
            F.lit(v).cast("int").alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("bal_cents").alias("sum_bal_cents"),
        )

    old = versioned.read_version(spark, base, version=1)   # time travel
    latest = versioned.read_version(spark, base)           # manifest current
    return _agg(old, 1).unionAll(_agg(latest, 2))


@register(
    "sink_codec_zstd_roundtrip",
    oracle="""
SELECT s_nationkey,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
FROM supplier
GROUP BY s_nationkey
""",
    doc=(
        "Codec-explicit parquet sink: supplier written with "
        "compression=zstd (the modern default for cold analytical "
        "data — better ratio than snappy at similar scan speed), read "
        "back and aggregated against the ORIGINAL table's oracle. The "
        "codec is a per-write option, not a session flag, so mixed "
        "codec estates read transparently; tests/test_sources.py "
        "asserts the files really are zstd-compressed (footer "
        "metadata), so the roundtrip can't silently fall back to the "
        "default codec."
    ),
    tags=("sink", "source"),
)
def sink_codec_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = io.load(spark, sf_dir, "supplier")
    path = _sink_path(sf_dir, "supplier_zstd")
    sup.write.mode("overwrite").option("compression", "zstd").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_bal"),
    )


@register(
    "snapshot_diff_cdf",
    oracle="""
WITH v1 AS (
  SELECT c_custkey, CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal
  FROM customer
), v2 AS (
  SELECT c_custkey,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)
           + CASE WHEN c_mktsegment = 'BUILDING' THEN 500 ELSE 0 END AS bal
  FROM customer WHERE c_custkey % 10 <> 0
)
SELECT COALESCE(v1.c_custkey, v2.c_custkey) AS c_custkey,
       CASE WHEN v2.c_custkey IS NULL THEN 'delete'
            WHEN v1.bal <> v2.bal THEN 'update'
            ELSE 'unchanged' END AS action,
       v1.bal AS old_bal, v2.bal AS new_bal
FROM v1 FULL OUTER JOIN v2 ON v1.c_custkey = v2.c_custkey
""",
    doc=(
        "Change data feed by snapshot diff: versions 1 and 2 of the "
        "versioned customer table (the exact snapshots "
        "sink_versioned_time_travel commits) full-outer-joined on the "
        "key into a row-level action feed — delete (gone in v2), "
        "update (balance changed), unchanged — the derived CDF a "
        "log-less table format has to reconstruct by diffing. Reads "
        "go through the versioned reader (manifest + pinned "
        "versions); the oracle recomputes both snapshots from the "
        "ORIGINAL table, so a reader mixing versions or a diff "
        "misclassifying a row breaks the hash. One keyed "
        "shuffle-join of two snapshots; at 100 TB you'd bucket both "
        "snapshots on the key at write time and the diff is "
        "co-located."
    ),
    tags=("sink", "source", "versioned", "join"),
)
def snapshot_diff_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.sources import versioned

    # (re)commit both snapshots — the sink clears its scratch base and
    # writes v1/v2 eagerly inside the call; its returned summary
    # DataFrame is not needed here
    sink_versioned_time_travel(spark, sf_dir)
    base = _sink_path(sf_dir, "versioned_customer")
    v1 = versioned.read_version(spark, base, 1).select(
        F.col("c_custkey").alias("k1"), F.col("bal_cents").alias("old_bal")
    )
    v2 = versioned.read_version(spark, base, 2).select(
        F.col("c_custkey").alias("k2"), F.col("bal_cents").alias("new_bal")
    )
    return v1.join(v2, v1.k1 == v2.k2, "full_outer").select(
        F.coalesce(F.col("k1"), F.col("k2")).alias("c_custkey"),
        F.when(F.col("k2").isNull(), "delete")
        .when(F.col("old_bal") != F.col("new_bal"), "update")
        .otherwise("unchanged")
        .alias("action"),
        "old_bal",
        "new_bal",
    )


@register(
    "source_partition_layout_evolution",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders GROUP BY o_orderstatus
""",
    doc=(
        "Partition-LAYOUT evolution (the lakehouse cousin of schema "
        "evolution): generation 1 of the orders estate is written "
        "hive-partitioned by o_orderstatus (odd orderkeys), "
        "generation 2 flat/unpartitioned (even orderkeys) — the "
        "situation every long-lived table reaches when its "
        "partitioning strategy changes mid-life. The reader loads "
        "each generation with its own layout (the partition column "
        "comes from DIRECTORY NAMES in gen1 and from DATA in gen2), "
        "unionByName's them, and aggregates; the oracle runs on the "
        "original table, so a dropped partition value, a type drift "
        "on the partition column (hive directories stringify it), or "
        "a row lost at the seam breaks the hash."
    ),
    tags=("sink", "source", "union"),
)
def source_partition_layout_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = io.load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    gen1_path = _sink_path(sf_dir, "orders_gen1_partitioned")
    gen2_path = _sink_path(sf_dir, "orders_gen2_flat")
    orders.filter(F.col("o_orderkey") % 2 == 1).write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(gen1_path)
    orders.filter(F.col("o_orderkey") % 2 == 0).write.mode("overwrite").parquet(
        gen2_path
    )
    gen1 = spark.read.parquet(gen1_path).withColumn(
        # hive partition directories stringify the column; restore the
        # original type explicitly at the seam
        "o_orderstatus",
        F.col("o_orderstatus").cast("string"),
    )
    gen2 = spark.read.parquet(gen2_path)
    both = gen1.unionByName(gen2.select(*gen1.columns))
    return both.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "sink_versioned_vacuum",
    oracle="""
WITH v3 AS (
  SELECT CAST(3 AS INT) AS version, true AS survived,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM customer WHERE c_custkey % 3 <> 0
), v4 AS (
  SELECT CAST(4 AS INT) AS version, true AS survived,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM customer WHERE c_custkey % 5 <> 0
)
SELECT CAST(1 AS INT) AS version, false AS survived,
       CAST(NULL AS BIGINT) AS n_rows
UNION ALL
SELECT CAST(2 AS INT), false, CAST(NULL AS BIGINT)
UNION ALL SELECT * FROM v3
UNION ALL SELECT * FROM v4
""",
    doc=(
        "Versioned-sink VACUUM (retention): four snapshots committed, "
        "keep_last=2 expires v1/v2 — manifest shrunk by ONE atomic "
        "replace BEFORE any directory deletion (the Delta/Iceberg "
        "publish-then-delete order, sources/versioned.py:"
        "vacuum_versions), so a post-vacuum manifest can only point "
        "at surviving snapshots.  The query proves all four "
        "behaviors: expired versions are BOTH manifest-rejected "
        "(read_version raises) AND physically gone (directory check), "
        "survivors re-read to their exact pre-vacuum contents "
        "(oracle recomputes them from the original table), and the "
        "current pointer survives.  Storage reclamation is the other "
        "half of the time-travel contract — history you keep is a "
        "retention dial, not an unbounded bill."
    ),
    tags=("sink", "source", "versioned"),
)
def sink_versioned_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from tda596_lab02mapreduce_spark.sources import versioned

    cust = io.load(spark, sf_dir, "customer").select("c_custkey")
    base = _sink_path(sf_dir, "versioned_vacuum")
    shutil.rmtree(base, ignore_errors=True)  # pid-suffixed, ours alone
    versioned.write_version(cust, base, 1)
    versioned.write_version(cust.filter(F.col("c_custkey") % 2 != 0), base, 2)
    versioned.write_version(cust.filter(F.col("c_custkey") % 3 != 0), base, 3)
    versioned.write_version(cust.filter(F.col("c_custkey") % 5 != 0), base, 4)
    removed = versioned.vacuum_versions(base, keep_last=2)
    assert removed == [1, 2], f"vacuum removed {removed}, expected [1, 2]"

    rows = []
    for v in (1, 2, 3, 4):
        in_manifest = True
        n = None
        try:
            df = versioned.read_version(spark, base, version=v)
            n = df.count()
        except ValueError:
            in_manifest = False
        dir_exists = os.path.exists(os.path.join(base, f"v={v}"))
        # survived must mean BOTH visible and physically present;
        # expired must be neither (a half-vacuumed state fails here)
        assert in_manifest == dir_exists, f"v={v} manifest/dir disagree"
        rows.append((v, in_manifest, n))
    return spark.createDataFrame(
        rows, "version int, survived boolean, n_rows long"
    )


@register(
    "sink_xml_roundtrip",
    oracle="""
SELECT CAST(n_regionkey AS INT) AS n_regionkey,
       CAST(count(*) AS BIGINT) AS n_nations,
       string_agg(n_name, '|' ORDER BY n_name) AS names
FROM nation
GROUP BY n_regionkey
""",
    doc=(
        "XML sink + re-scan — Spark 4's NATIVE xml format (spark-xml "
        "merged upstream in 4.0; rowTag element per record, schema "
        "declared on read like every schemaless format here). The "
        "nation table round-trips through <nations><nation>...</> "
        "files and the aggregate hash-matches the ORIGINAL parquet — "
        "a dropped/mangled element breaks the count, an "
        "entity-escaping bug breaks the ordered name concat. "
        "Completes the format matrix: parquet / orc / csv / json / "
        "text-kv / binary / zstd codecs / python-custom / versioned "
        "/ XML, with avro and protobuf as the two env-gated jars."
    ),
    tags=("sink", "source"),
)
def sink_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = io.load(spark, sf_dir, "nation")
    path = _sink_path(sf_dir, "nation_xml")
    (
        nation.write.format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .mode("overwrite")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey INT, n_comment STRING")
        .load(path)
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nations"),
        F.array_join(F.array_sort(F.collect_list("n_name")), "|").alias("names"),
    )
