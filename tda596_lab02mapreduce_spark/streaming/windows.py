"""Structured Streaming operators over the events table
(SURVEY.md §2B streaming row — an *extension*: the reference is
batch-only by construction, hard stage barrier at
mr/coordinator.go:120-140).

Each windowed aggregation is defined ONCE as a function of a
DataFrame and applied identically to a batch frame or a stream
(``readStream`` + ``Trigger.AvailableNow``) — the batch-vs-stream
invariance tests in tests/test_streaming.py are the correctness
check, mirroring the driver's oracle strategy for batch queries.

Watermarks bound state: group state for windows older than
(max event time - watermark) is evicted, which is what makes these
runnable on an unbounded 100 TB/day stream.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import io


def _as_stream_dir(sf_dir: str, table: str, *, copies: int = 1) -> str:
    """FileStreamSource requires a directory; the fixtures are single
    read-only parquet files. Stage a symlink-holding directory once per
    (sf_dir, table, copies) — zero data copy, works on any POSIX fs.
    ``copies > 1`` links the same file N times: a deliberate
    every-row-duplicated feed for exercising streaming dedup."""
    # realpath, not abspath: the sidecar/model-store keying uses
    # realpath, so a symlinked spelling of the same fixture dir must
    # resolve to the same staged feed dir too (ADVICE r15 low)
    key = hashlib.sha1(os.path.realpath(sf_dir).encode()).hexdigest()[:12]
    sub = table if copies == 1 else f"{table}_x{copies}"
    d = os.path.join(tempfile.gettempdir(), f"tda596-stream-{key}", sub)
    src = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(src):
        # multi-file table (e.g. a derived scale staging written with
        # repartition(N)): a symlink TO THE DIRECTORY is invisible to
        # FileStreamSource's file listing — the drain silently reads
        # NOTHING (caught by the round-10 scale probe: an 0.08× "speed
        # up" that was an empty stream). Link each part file instead,
        # rebuilding from scratch every call: the staging dir is
        # rewritten per probe run with fresh part UUIDs, and stale
        # links would otherwise dangle or double the feed.
        import glob
        import shutil

        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
        parts = sorted(glob.glob(os.path.join(src, "*.parquet")))
        for c in range(copies):
            for j, p in enumerate(parts):
                os.symlink(p, os.path.join(d, f"{table}_{c}_{j}.parquet"))
        return d
    os.makedirs(d, exist_ok=True)
    # copies == 1 keeps the historical single-link name: staged dirs
    # persist in /tmp across sessions, and changing the name would leave
    # old+new links side by side — a silently doubled feed.
    names = (
        [f"{table}.parquet"]
        if copies == 1
        else [f"{table}_{i}.parquet" for i in range(copies)]
    )
    for name in names:
        link = os.path.join(d, name)
        if not os.path.islink(link):
            try:
                os.symlink(src, link)
            except FileExistsError:
                pass
    return d


def table_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    *,
    copies: int = 1,
    max_files: int | None = None,
) -> DataFrame:
    """Any fixture table as a file stream. FileStreamSource needs an
    explicit schema: it is the batch table's (``io.table``), so the
    stream sees exactly what the batch path sees (the events ts
    physical type has drifted across fixture generations) and
    batch-vs-stream invariance holds by construction. Symlink
    directory staging. No ts coercion — events callers use
    events_stream.

    ``SPARK_GRAFT_STREAM_MAX_FILES`` (scale-probe knob): cap files per
    micro-batch so a multi-file staging drains in MANY batches instead
    of one — the shape that exercises cross-batch state carry and
    watermark eviction. Only honest when the staged part files are
    time-range-partitioned and mtime-ordered (tools/scale_stress.py's
    stream staging); the single-file fixtures ignore it (1 file = 1
    batch either way).

    ``copies``/``max_files``: explicit multi-batch staging for
    queries whose SEMANTICS need a deterministic batch count (the
    model-swap serve drains copies=2 / max_files=1 → exactly 2
    micro-batches of the full table) — unlike
    ``SPARK_GRAFT_STREAM_MAX_FILES``, which is a probe-only override."""
    schema = io.table(spark, sf_dir, table).schema
    reader = spark.readStream.schema(schema).format("parquet")
    mft = (
        max_files
        if max_files is not None
        else os.environ.get("SPARK_GRAFT_STREAM_MAX_FILES")
    )
    if mft:
        reader = reader.option("maxFilesPerTrigger", int(mft))
    return reader.load(_as_stream_dir(sf_dir, table, copies=copies))


def events_stream(spark: SparkSession, sf_dir: str, *, copies: int = 1) -> DataFrame:
    """The events table as a file stream (one-file directory;
    AvailableNow trigger drains it in one run), ts normalized exactly
    as io.load does. ``copies=2`` feeds every event twice — the
    duplicated-source shape the streaming dedup queries must
    collapse."""
    return io.normalize_events_ts(
        table_stream(spark, sf_dir, "events", copies=copies)
    )


def tumbling_agg(events: DataFrame) -> DataFrame:
    """Per-type event counts + decimal-sum of value in 1-hour tumbling
    windows (2-hour watermark)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(events: DataFrame) -> DataFrame:
    """Sliding 2-hour windows every hour (4-hour watermark): each event
    lands in two windows."""
    return (
        events.withWatermark("ts", "4 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_agg(events: DataFrame) -> DataFrame:
    """Session windows per user: a session closes after 10 minutes of
    inactivity. State size is O(open sessions), bounded by the 1-hour
    watermark."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """Exactly-once-per-event-id within the 1-hour watermark horizon
    (dropDuplicatesWithinWatermark keeps state bounded — plain
    dropDuplicates on a stream retains ALL history)."""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


# Per-drain progress metrics, keyed by query name — written by
# record_drain after every AvailableNow drain, read by the scale probe
# (tools/scale_stress.py SCALE_BAND=stream). Batch counts, input rows,
# and state-store rows/bytes come from the engine's own
# StreamingQueryProgress, so the probe measures what the state store
# actually held rather than what the operator docs claim.
DRAIN_STATS: dict[str, dict] = {}


def record_drain(query_name: str, q) -> None:
    """Summarize a finished StreamingQuery's recentProgress into
    DRAIN_STATS[query_name]."""
    import json

    progs = []
    for p in q.recentProgress:
        if isinstance(p, dict):
            progs.append(p)
        elif isinstance(p, str):
            progs.append(json.loads(p))
        else:  # StreamingQueryProgress object
            j = p.json() if callable(getattr(p, "json", None)) else p.json
            progs.append(json.loads(j))
    state_rows = [
        sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
        for p in progs
    ]
    state_mem = [
        sum(op.get("memoryUsedBytes", 0) for op in p.get("stateOperators", []))
        for p in progs
    ]
    DRAIN_STATS[query_name] = {
        "n_batches": len(progs),
        "input_rows": sum(p.get("numInputRows", 0) for p in progs),
        "batch_ms": sum(
            p.get("durationMs", {}).get("triggerExecution", 0) for p in progs
        ),
        "state_rows_max": max(state_rows, default=0),
        "state_rows_last": state_rows[-1] if state_rows else 0,
        "state_mem_max_bytes": max(state_mem, default=0),
        # rows the ENGINE dropped as late (beyond the late-events
        # watermark) before they reached the stateful operator — the
        # engine's own count, used to pin late-data contracts
        "late_dropped": sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in progs
            for op in p.get("stateOperators", [])
        ),
    }


def source_bytes(
    sf_dir: str, table: str = "events", *, copies: int = 1
) -> int | None:
    """On-disk bytes of the fixture table feeding a drain (times the
    ``copies`` the stream replays it) — the input proxy ``drain_conf``
    sizes the state store from. ``None`` when the size is unknown: a
    missing path or a non-local URI (an object store is not stat-ed
    here), which leaves the session's setting in force."""
    import glob
    from urllib.parse import urlparse

    uri = urlparse(sf_dir)
    if uri.scheme not in ("", "file"):
        return None
    p = os.path.join(uri.path if uri.scheme else sf_dir, f"{table}.parquet")
    if os.path.isdir(p):
        n = sum(os.path.getsize(f) for f in glob.glob(os.path.join(p, "*.parquet")))
    elif os.path.isfile(p):
        n = os.path.getsize(p)
    else:
        return None
    return copies * n


# bytes of drain input per state-store partition: state rows are
# O(keys within the watermark/TTL horizon) which grows with input, so
# one partition per ~32 MB of source keeps partitions meaningfully
# sized while a KB-scale local feed collapses to the 4-partition floor
_DRAIN_BYTES_PER_PARTITION = 32 * 1024 * 1024
_DRAIN_MIN_PARTITIONS = 4


class drain_conf:
    """Context manager that sizes ``spark.sql.shuffle.partitions`` (=
    the state-store partition count a NEW streaming checkpoint is
    created with) for one AvailableNow drain from the SOURCE SIZE, not
    the core count (guide §2.2; VERDICT r16 next-round #4): at sf0.1
    the drains ran 32 state partitions for KB-scale state — per batch
    that is 32 delta-file commits and 32 task/Python-worker setups of
    pure overhead (measured at sf0.1, warmed A/B: spans_ttl 3.35→3.03
    s, ohlc_append 2.04→1.43 s at 4 partitions). The derivation is
    scale-ADAPTIVE: ceil(source_bytes / 32 MB), floored at 4 and capped
    at the session's configured value, so a cluster-scale feed keeps
    the cluster's setting. Batch counts, watermark semantics, and
    per-key grouping are partition-count-independent, so drained
    results are unchanged (the batch-boundary oracles stay green).
    ``n_bytes=None`` (size unknown) leaves the session's setting as is.
    The streaming query CLONES the session conf at start, so restoring
    the value after the drain cannot affect the finished query. The
    setting is session-global while the drain starts: it assumes one
    thread plans on the session at a time."""

    def __init__(self, spark, n_bytes: int | None):
        self._spark = spark
        self._bytes = n_bytes
        self._old: str | None = None

    def __enter__(self):
        if self._bytes is not None:
            self._old = self._spark.conf.get("spark.sql.shuffle.partitions")
            derived = max(
                _DRAIN_MIN_PARTITIONS,
                -(-self._bytes // _DRAIN_BYTES_PER_PARTITION),
            )
            parts = min(int(self._old), derived)
            self._spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        return self

    def __exit__(self, *exc):
        if self._old is not None:
            self._spark.conf.set("spark.sql.shuffle.partitions", self._old)
        return False


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    *,
    output_mode: str = "complete",
    src_bytes: int | None = None,
) -> DataFrame:
    """Drain a stream into an in-memory sink with AvailableNow and
    return the materialized result as a batch DataFrame.

    output_mode: "complete" for aggregations (append would hold back
    windows the final watermark never closes); "append" for
    row-level streams (dedup, projections).

    ``src_bytes`` (optional): the drain's input size — when given, the
    state-store partition count is derived from it via ``drain_conf``
    instead of running KB-scale state on the full session partition
    count."""
    with drain_conf(stream_df.sparkSession, src_bytes):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    record_drain(query_name, q)
    return stream_df.sparkSession.table(query_name)


def purchase_click_attribution(events: DataFrame) -> DataFrame:
    """Stream-stream interval self-join: every (purchase, click) pair
    for the same user where the click precedes the purchase by at most
    30 minutes — the attribution join (2-hour watermarks). Batch and stream share this
    definition; on a stream, BOTH sides carry watermarks and the join
    condition time-bounds the buffered state (without the bound a
    stream-stream join must retain each side forever)."""
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("interval 30 minutes")),
    )
    return joined.select(
        "purchase_id",
        "click_id",
        "user_id",
        (F.col("p_ts").cast("long") - F.col("c_ts").cast("long")).alias("gap_sec"),
    )


def enriched_segment_agg(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment: join the (possibly streaming) event
    feed against the static customer dimension (user_id = c_custkey-1,
    the fixture's surrogate mapping), then aggregate per market segment
    in 1-hour tumbling windows (2-hour watermark). The dim side carries
    NO broadcast hint: customer is
    catalog-proportional (150k x SF), so plan-time stats broadcast the
    2-column projection per micro-batch below threshold (fixture scale
    — shipped once per executor, never shuffled with the stream) and
    the join falls back to a shuffled stream-static join when a 100 TB
    catalog outgrows it; stream state stays bounded by the watermark
    exactly as in the un-enriched windowed aggs."""
    dim = customer.select(
        (F.col("c_custkey") - 1).alias("user_id"), "c_mktsegment"
    )
    return (
        events.withWatermark("ts", "2 hours")
        .join(dim, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )
