"""Windowed event-time aggregations, batch form (SURVEY.md §2B
streaming row). The SAME functions run over readStream in
tests/test_streaming.py (batch-vs-stream invariance); here they run
in batch mode so the DuckDB oracle can check the window semantics
(time_bucket / unnested buckets / gaps-and-islands sessionization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import io
from tda596_lab02mapreduce_spark.registry import register
from tda596_lab02mapreduce_spark.streaming.windows import (
    session_agg,
    sliding_agg,
    source_bytes,
    tumbling_agg,
)


@register(
    "stream_tumbling_hourly",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
    doc="Tumbling 1h windows per event type (same function drives the streaming test).",
    tags=("streaming", "window"),
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_agg(io.load(spark, sf_dir, "events"))


@register(
    "stream_sliding_2h",
    oracle="""
SELECT ws AS window_start, CAST(count(*) AS BIGINT) AS n_events
FROM (
  SELECT unnest([
           time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
           time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) - INTERVAL '1 hour'
         ]) AS ws
  FROM events
) t
GROUP BY ws
""",
    doc="Sliding 2h/1h windows: every event contributes to exactly two windows.",
    tags=("streaming", "window"),
)
def stream_sliding_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_agg(io.load(spark, sf_dir, "events"))


@register(
    "stream_session_10m",
    oracle="""
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL '10 minutes'
              THEN 1 ELSE 0 END AS new_sess
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM marked
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL '10 minutes' AS session_end,
       user_id,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess
GROUP BY user_id, sess_id
""",
    doc=(
        "Session windows (10 min inactivity gap) per user; oracle is the "
        "gaps-and-islands sessionization. Spark closes a session at "
        "last_event + gap, so a follow-up event exactly `gap` later starts a "
        "new session (>= in the oracle's gap test)."
    ),
    tags=("streaming", "window", "session"),
)
def stream_session_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_agg(io.load(spark, sf_dir, "events"))


@register(
    "stream_dedup_ids",
    oracle="""
SELECT event_id FROM events
""",
    doc=(
        "Watermark-bounded streaming dedup (dropDuplicatesWithinWatermark) "
        "drained with Trigger.AvailableNow. The source feed is the events "
        "file DUPLICATED (every row arrives twice, via a two-link stream "
        "directory) and the drained sink is returned WITHOUT a trailing "
        "distinct — the fixture has unique event_ids, so the oracle's one "
        "row per id only matches if the streaming dedup actually collapsed "
        "the duplicates (an earlier revision distinct()-ed the sink, which "
        "made the check tautological — advisory finding). A second-batch "
        "replay of the same data is either deduped against live state or "
        "dropped as late-beyond-watermark; both collapse to one row per "
        "id. State is O(ids inside the watermark horizon), not O(history)."
    ),
    tags=("streaming", "dedup"),
)
def stream_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.streaming.windows import (
        events_stream,
        run_available_now,
        stream_dedup,
    )

    drained = run_available_now(
        stream_dedup(events_stream(spark, sf_dir, copies=2)),
        "q_stream_dedup_ids",
        output_mode="append",
        src_bytes=source_bytes(sf_dir, copies=2),
    )
    return drained.select("event_id")


@register(
    "stream_running_user_stats",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY user_id
""",
    doc=(
        "applyInPandasWithState running per-user (count, sum) drained with "
        "AvailableNow; the final state per user (update-mode sink keeps every "
        "micro-batch update — n_events is strictly increasing, so max-n is "
        "the final one) must equal the batch aggregate. sum rounded to 2dp "
        "on both sides: the fixture values are cents, so sums sit maximally "
        "far from rounding boundaries (checked at all SFs)."
    ),
    tags=("streaming", "stateful", "udf"),
)
def stream_running_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from tda596_lab02mapreduce_spark.streaming.stateful import running_user_stats
    from tda596_lab02mapreduce_spark.streaming.windows import (
        events_stream,
        run_available_now,
    )

    drained = run_available_now(
        running_user_stats(events_stream(spark, sf_dir)),
        "q_stream_running_user_stats",
        output_mode="update",
        src_bytes=source_bytes(sf_dir),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        drained.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round(F.col("sum_value"), 2).alias("sum_value"),
        )
    )


@register(
    "stream_interval_join",
    oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
       date_diff('second', CAST(c.ts AS TIMESTAMP), CAST(p.ts AS TIMESTAMP)) AS gap_sec
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL '30 minutes'
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
""",
    doc=(
        "Stream-stream interval self-join (attribution): every click "
        "within 30 minutes before a same-user purchase. The SAME "
        "function runs as a watermarked stream-stream join "
        "(streaming/windows.py:purchase_click_attribution — both sides "
        "watermarked, condition time-bounds buffered state) and as this "
        "batch form; stream-vs-batch invariance in "
        "tests/test_streaming.py, values hash-checked here."
    ),
    tags=("streaming", "join"),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.streaming.windows import (
        purchase_click_attribution,
    )

    return purchase_click_attribution(io.load(spark, sf_dir, "events"))


@register(
    "stream_foreachbatch_exactly_once",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
""",
    doc=(
        "Exactly-once file sink as a query (§2C row, was test-only in "
        "r2): the events stream drains through foreachBatch into "
        "batchId-deterministic directories with overwrite semantics — "
        "the idempotent-writer half of Spark's replayed-source + "
        "idempotent-sink exactly-once contract. The query then REPLAYS "
        "the first batch through the same writer (simulating a task "
        "retry after partial failure) before aggregating the sink: if "
        "the replay duplicated rows, n_rows and sum_value break "
        "against the oracle over the ORIGINAL table; if the sink lost "
        "rows, they also break. Checkpoint + sink dirs are private to "
        "this query and reset per invocation (single-writer "
        "assumption, same as every sink_* query)."
    ),
    tags=("streaming", "sink"),
)
def stream_foreachbatch_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from tda596_lab02mapreduce_spark.queries.sinks import _sink_path
    from tda596_lab02mapreduce_spark.streaming.windows import events_stream

    base = _sink_path(sf_dir, "febatch_sink")
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    shutil.rmtree(base, ignore_errors=True)

    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

    stream = events_stream(spark, sf_dir).select(
        "event_id", F.col("value").cast("decimal(18,6)").alias("value")
    )
    q = (
        stream.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()

    # simulate the retry: re-offer batch 0's rows to the same writer.
    # Materialize first — a real retry replays from the checkpointed
    # source, not a lazy scan of the directory being overwritten.
    first = spark.read.parquet(f"{out}/batch=0")
    replay = spark.createDataFrame(first.collect(), first.schema)
    write_batch(replay, 0)

    back = spark.read.parquet(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
        F.sum("value").cast("double").alias("sum_value"),
    )


@register(
    "stream_enrich_segment",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
       c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON c_custkey = user_id + 1
GROUP BY 1, 2
""",
    doc=(
        "Stream-static dimension enrichment + windowed rollup per "
        "market segment (streaming/windows.py:enriched_segment_agg — "
        "broadcast dim join inside the micro-batch, watermark-bounded "
        "state; batch-vs-stream invariance in tests/test_streaming.py)."
    ),
    tags=("streaming", "join", "window"),
)
def stream_enrich_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.streaming.windows import enriched_segment_agg

    return enriched_segment_agg(
        io.load(spark, sf_dir, "events"), io.load(spark, sf_dir, "customer")
    )


@register(
    "stream_state_inspect",
    oracle="""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
    doc=(
        "State-store introspection: run a stateful streaming aggregation "
        "to a checkpoint (AvailableNow drain, noop sink), then read the "
        "checkpoint back with the statestore data source — the "
        "operability path for debugging a production stateful pipeline "
        "(what keys is it carrying? how big is each aggregate buffer?) "
        "without touching the running query. The agg is deliberately "
        "unwatermarked so the drained state holds EVERY window and the "
        "reconstructed (window, event_type, count, sum) rows hash-match "
        "the batch aggregate of the original table — proving the "
        "checkpoint contains exactly the right state, no more, no less. "
        "A production unbounded stream would watermark (state then holds "
        "only open windows); stream_tumbling_hourly pins that variant."
    ),
    tags=("streaming", "source"),
)
def stream_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from tda596_lab02mapreduce_spark.queries.sinks import _sink_path
    from tda596_lab02mapreduce_spark.streaming.windows import events_stream

    # fixed per-(query, sf) checkpoint cleared at the start of each run
    # — the repo .tmp overwrite convention every other sink-style query
    # uses. A fresh mkdtemp per invocation leaked state-store/offset
    # dirs across bench and test sweeps (advisory finding); delete-at-
    # end is not an option because the returned statestore DataFrame
    # reads the checkpoint lazily, after this function returns. Since
    # round 8 _sink_path is per-process (pid-suffixed scratch base), so
    # concurrent harnesses no longer race on this path.
    ck = _sink_path(sf_dir, "state_inspect_ckpt")
    shutil.rmtree(ck, ignore_errors=True)
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
    )
    q = (
        agg.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    st = spark.read.format("statestore").load(ck)
    return st.select(
        F.col("key.window.start").alias("window_start"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
        F.col("value.sum").cast("double").alias("sum_value"),
    )


@register(
    "stream_python_wholefile_wc",
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
        "The pluggable whole-file source on the STREAMING plane: the "
        "staged 8-file corpus is served by a Python "
        "DataSourceStreamReader (sources/pydatasource.py — offsets are "
        "indices into the sorted listing, one file per partition, "
        "committed prefix never re-served on restart), word-counted "
        "with the exact wc.go tokenizer, and drained with AvailableNow; "
        "the oracle recomputes the count from the ORIGINAL table, so a "
        "file skipped or double-served by the offset bookkeeping breaks "
        "the hash. Together with source_python_wholefile (batch read) "
        "and sink_python_textkv_roundtrip (atomic write) this completes "
        "the pluggable-format matrix the reference exposes through its "
        "single custom source."
    ),
    tags=("streaming", "source", "text"),
)
def stream_python_wholefile_wc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from tda596_lab02mapreduce_spark.functions.text import tokens_nonempty
    from tda596_lab02mapreduce_spark.queries.sinks import _sink_path
    from tda596_lab02mapreduce_spark.sources.pydatasource import (
        register_wholefile_stream,
    )
    from tda596_lab02mapreduce_spark.streaming.windows import run_available_now

    docs = io.load(spark, sf_dir, "documents")
    path = _sink_path(sf_dir, "docs_wholefiles_stream")
    docs.select("text").repartition(8).write.mode("overwrite").text(path)
    register_wholefile_stream(spark)
    st = (
        spark.readStream.format("wholefile_stream")
        .option("glob", os.path.join(path, "part-*"))
        .load()
    )
    counts = (
        st.select(F.explode(tokens_nonempty("content")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return run_available_now(
        counts, "stream_python_wholefile_wc", output_mode="complete"
    )


def _ewma_oracle() -> str:
    from tda596_lab02mapreduce_spark.queries.timeseries import _ewma_terms_sql

    num, den = _ewma_terms_sql()
    return f"""
WITH pts AS (
  SELECT event_id, user_id, ts,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS y
  FROM events
)
SELECT event_id, user_id,
       CAST(({num}) AS DOUBLE) / CAST(({den}) AS DOUBLE) AS ewma_cents
FROM pts
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register(
    "stream_ewma_user",
    oracle=_ewma_oracle(),
    doc=(
        "Streaming twin of ewma_dyadic_user_value: the truncated dyadic "
        "EWMA as a stateful streaming operator (applyInPandasWithState, "
        "state = last 9 cent values per user — the truncation is "
        "exactly what makes the EWMA bounded-state streamable). Cents "
        "are computed Spark-side before the UDF so Python contributes "
        "only integer shifts and one IEEE division; drained with "
        "AvailableNow, the per-event output hash-matches the batch "
        "window form's oracle bit-for-bit — the strongest batch-stream "
        "consistency claim in the streaming band (value-level, not "
        "aggregate-level)."
    ),
    tags=("streaming", "stateful", "udf", "timeseries"),
)
def stream_ewma_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.streaming.stateful import ewma_user_value
    from tda596_lab02mapreduce_spark.streaming.windows import (
        events_stream,
        run_available_now,
    )

    cents = events_stream(spark, sf_dir).select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("y"),
    )
    drained = run_available_now(
        ewma_user_value(cents),
        "q_stream_ewma_user",
        output_mode="update",
        src_bytes=source_bytes(sf_dir),
    )
    return drained.select("event_id", "user_id", "ewma_cents")


@register(
    "stream_window_topk",
    oracle="""
WITH hourly AS (
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
         event_type,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, n_events, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, event_type) AS rk
  FROM hourly
) t
WHERE rk <= 3
""",
    doc=(
        "Windowed top-k over a stream (trending-items analytics): top-3 "
        "event types per tumbling hour. Rank is not a streaming "
        "operator (it would retract on every update), so this is the "
        "canonical two-stage shape: the STREAM maintains the windowed "
        "counts (the same tumbling_agg as stream_tumbling_hourly, "
        "watermarked, incremental state), and the rank runs as a batch "
        "window over the drained materialization — at 100 TB the "
        "ranking input is already reduced to O(windows × types). "
        "Deterministic under count ties via the event_type tiebreak; "
        "AvailableNow drain makes the composition oracle-checkable "
        "end-to-end."
    ),
    tags=("streaming", "window", "topk"),
)
def stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from tda596_lab02mapreduce_spark.streaming.windows import (
        events_stream,
        run_available_now,
    )

    drained = run_available_now(
        tumbling_agg(events_stream(spark, sf_dir)),
        "q_stream_window_topk",
        src_bytes=source_bytes(sf_dir),
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return (
        drained.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("window_start", "event_type", "n_events", "rk")
    )


@register(
    "stream_ohlc_hourly",
    oracle="""
WITH pts AS (
  SELECT user_id,
         time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS hour,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP)) * 1000000) AS HUGEINT)
           * 1000000000 + event_id % 1000000000 AS okey
  FROM events
)
SELECT user_id, hour,
       arg_min(cents, okey) AS open_c,
       max(cents) AS high_c,
       min(cents) AS low_c,
       arg_max(cents, okey) AS close_c,
       CAST(count(*) AS BIGINT) AS n_events
FROM pts GROUP BY user_id, hour
""",
    doc=(
        "Streaming twin of timeseries_ohlc_hourly: the OHLC candle "
        "maintained INCREMENTALLY by the streaming engine — min_by/"
        "max_by/min/max/count are all mergeable aggregates, so each "
        "candle's state is O(1) and late rows within the watermark "
        "fold in commutatively (the total order key makes open/close "
        "arrival-order-independent — the property that makes OHLC "
        "streamable at all). Watermarked tumbling window + user key, "
        "drained with AvailableNow; hash-matches the batch form's "
        "oracle exactly."
    ),
    tags=("streaming", "timeseries", "agg"),
)
def stream_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.streaming.windows import (
        events_stream,
        run_available_now,
    )

    from tda596_lab02mapreduce_spark.queries.timeseries import ohlc_cents_okey

    ev = events_stream(spark, sf_dir)
    cents, okey, aggs = ohlc_cents_okey(ev)
    pts = ev.select(
        "user_id",
        "ts",
        cents.alias("cents"),
        okey.alias("okey"),
    )
    agg = (
        pts.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(*aggs)
        .select(
            "user_id",
            F.col("w.start").alias("hour"),
            "open_c",
            "high_c",
            "low_c",
            "close_c",
            "n_events",
        )
    )
    return run_available_now(
        agg, "q_stream_ohlc_hourly", src_bytes=source_bytes(sf_dir)
    )


@register(
    "stream_interval_join_louter",
    oracle="""
WITH bound AS (
  SELECT least(
           (SELECT max(CAST(ts AS TIMESTAMP)) FROM events WHERE event_type = 'click'),
           (SELECT max(CAST(ts AS TIMESTAMP)) FROM events WHERE event_type = 'purchase')
         ) - INTERVAL 130 MINUTES AS b
)
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
FROM events p
LEFT JOIN events c
  ON p.user_id = c.user_id
 AND c.event_type = 'click'
 AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
 AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTES
WHERE p.event_type = 'purchase'
  AND CAST(p.ts AS TIMESTAMP) < (SELECT b FROM bound)
""",
    doc=(
        "Stream-stream LEFT OUTER interval join — the attribution join "
        "that also reports UNMATCHED purchases (organic conversions) as "
        "null-click rows. Outer emission is watermark-driven state "
        "eviction: a purchase leaves as unmatched only once the global "
        "watermark (min over both sides' max event time − 2 h delay) "
        "proves no click can still arrive — so purchases inside the "
        "final watermark window are legitimately UNEMITTED at drain "
        "time (measured: 3 of 202 at sf0.001). Both the drained "
        "stream AND the oracle therefore restrict to purchases "
        "strictly older than min(max_click, max_purchase) − 130 min — "
        "the 10-min margin keeps the cut safely clear of the eviction "
        "boundary, making the comparison exact instead of "
        "tail-flaky. At 100 TB this is the operator whose state the "
        "watermark bounds: without the interval condition each side "
        "buffers forever."
    ),
    tags=("streaming", "join"),
)
def stream_interval_join_louter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.streaming.windows import (
        events_stream,
        run_available_now,
    )

    ev = events_stream(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("interval 30 minutes")),
        "left_outer",
    )
    drained = run_available_now(
        j.select("purchase_id", "click_id", "user_id", "p_ts"),
        "q_stream_interval_join_louter",
        output_mode="append",
        src_bytes=source_bytes(sf_dir),
    )
    # watermark-safe cut, computed from the ORIGINAL batch table with
    # the same expression the oracle uses
    ev_b = io.load(spark, sf_dir, "events")
    bound = (
        ev_b.groupBy()
        .agg(
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            ).alias("mx")
        )
        .select((F.col("mx") - F.expr("interval 130 minutes")).alias("b"))
    )
    return (
        drained.crossJoin(F.broadcast(bound))
        .filter(F.col("p_ts") < F.col("b"))
        .select("purchase_id", "click_id", "user_id")
    )


@register(
    "stream_interval_join_fouter",
    oracle="""
WITH bound AS (
  SELECT least(
           (SELECT max(CAST(ts AS TIMESTAMP)) FROM events WHERE event_type = 'click'),
           (SELECT max(CAST(ts AS TIMESTAMP)) FROM events WHERE event_type = 'purchase')
         ) AS mx
)
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       COALESCE(p.user_id, c.user_id) AS user_id
FROM (SELECT * FROM events
      WHERE event_type = 'purchase'
        AND CAST(ts AS TIMESTAMP) < (SELECT mx - INTERVAL 130 MINUTES FROM bound)) p
FULL JOIN (SELECT * FROM events
           WHERE event_type = 'click'
             AND CAST(ts AS TIMESTAMP) < (SELECT mx - INTERVAL 160 MINUTES FROM bound)) c
  ON p.user_id = c.user_id
 AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
 AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTES
""",
    doc=(
        "Stream-stream FULL OUTER interval join — completes the "
        "stream-stream family (inner, left outer, full outer): "
        "matched attribution pairs PLUS organic purchases (null "
        "click) PLUS unconverted clicks (null purchase), each "
        "unmatched row emitted only when the global watermark proves "
        "its match can no longer arrive. Eviction timing differs PER "
        "SIDE: an unmatched purchase closes when watermark > p_ts "
        "(last matching click has c_ts = p_ts) but an unmatched "
        "click only closes when watermark > c_ts + 30 min (it can "
        "still match purchases up to c_ts + interval). The cuts "
        "mirror that: purchases < mx - 130 min (watermark 120 + 10 "
        "slack) and clicks < mx - 160 min (120 + 30 interval + 10 "
        "slack), applied identically in the oracle — a symmetric "
        "-130 cut would silently drop unmatched clicks in the "
        "[mx-150, mx-130) band the stream never emits. At 100 TB "
        "the interval condition is what bounds BOTH sides' state; "
        "without it each side buffers forever."
    ),
    tags=("streaming", "join"),
)
def stream_interval_join_fouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.streaming.windows import (
        events_stream,
        run_available_now,
    )

    ev = events_stream(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("interval 30 minutes")),
        "full_outer",
    )
    drained = run_available_now(
        j.select(
            "purchase_id",
            "click_id",
            F.coalesce(F.col("user_id"), F.col("c_user_id")).alias("user_id"),
            "p_ts",
            "c_ts",
        ),
        "q_stream_interval_join_fouter",
        output_mode="append",
        src_bytes=source_bytes(sf_dir),
    )
    ev_b = io.load(spark, sf_dir, "events")
    bound = (
        ev_b.groupBy()
        .agg(
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            ).alias("mx")
        )
        .select(
            (F.col("mx") - F.expr("interval 130 minutes")).alias("b_p"),
            (F.col("mx") - F.expr("interval 160 minutes")).alias("b_c"),
        )
    )
    # Exact reconstruction of the oracle's PRE-join cuts from the
    # post-drain rows (simply filtering drained rows is WRONG at the
    # boundary: a row whose only matches lie in the other side's
    # unsafe region must come back as an UNMATCHED row, not vanish
    # with its dropped pairs). The cuts are ASYMMETRIC because the
    # eviction horizons are: a purchase closes at watermark > p_ts
    # but a click only at watermark > c_ts + 30 min, so clicks need
    # the extra interval margin (see the oracle doc). Three pieces,
    # all keyed:
    #   pairs   — both timestamps inside their own side's cut;
    #   orphan purchases — safe purchases with NO kept pair (anti
    #             join on purchase_id; a safe purchase whose only
    #             clicks fall in the click-side unsafe band
    #             [b_c, b_p) appears in drained as matched rows
    #             only, so a null-click filter would miss it);
    #   orphan clicks — safe clicks with NO kept pair (anti join on
    #             click_id).
    d = drained.crossJoin(F.broadcast(bound)).localCheckpoint(eager=False)
    pairs = d.filter(
        F.col("purchase_id").isNotNull()
        & F.col("click_id").isNotNull()
        & (F.col("p_ts") < F.col("b_p"))
        & (F.col("c_ts") < F.col("b_c"))
    ).select("purchase_id", "click_id", "user_id")
    safe_purchases = (
        d.filter(F.col("purchase_id").isNotNull() & (F.col("p_ts") < F.col("b_p")))
        .select("purchase_id", "user_id")
        .distinct()
    )
    orphan_p = safe_purchases.join(
        pairs.select("purchase_id"), "purchase_id", "left_anti"
    ).select(
        "purchase_id", F.lit(None).cast("long").alias("click_id"), "user_id"
    )
    safe_clicks = (
        d.filter(F.col("click_id").isNotNull() & (F.col("c_ts") < F.col("b_c")))
        .select("click_id", "user_id")
        .distinct()
    )
    orphan_c = safe_clicks.join(
        pairs.select("click_id"), "click_id", "left_anti"
    ).select(
        F.lit(None).cast("long").alias("purchase_id"), "click_id", "user_id"
    )
    return pairs.unionByName(orphan_p).unionByName(orphan_c)


from tda596_lab02mapreduce_spark.queries.driftstats import PSI_ORACLE as _PSI_ORACLE


@register(
    "stream_psi_monitor",
    oracle=_PSI_ORACLE,
    doc=(
        "PSI drift monitor AS A STREAM: the per-bin conditional counts "
        "(streaming/drift.py:psi_bin_counts — additive, so Structured "
        "Streaming maintains them incrementally in complete mode, 10 "
        "rows of state) are drained through an AvailableNow memory "
        "sink, then the identical stateless scoring tail "
        "(score_psi) runs on the final aggregate. Shares BOTH "
        "functions with the batch psi_value_drift, so the same DuckDB "
        "oracle hash-checks the streaming path end-to-end — the "
        "monitor a 100 TB ingest pipeline would run per micro-batch, "
        "with the reference profile constant and O(bins) state."
    ),
    tags=("streaming", "stats", "drift"),
)
def stream_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.streaming.drift import psi_bin_counts, score_psi
    from tda596_lab02mapreduce_spark.streaming.windows import (
        events_stream,
        run_available_now,
    )

    counts = run_available_now(
        psi_bin_counts(events_stream(spark, sf_dir)),
        "psi_monitor_counts",
        src_bytes=source_bytes(sf_dir),
    )
    return score_psi(counts)


@register(
    "stream_python_kv_sink_wc",
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
        "The full pluggable-Python STREAMING pipeline: the whole-file "
        "DataSourceStreamReader serves the staged corpus in "
        "micro-batches, per-batch (word, 1) pairs flow into the "
        "DataSourceStreamWriter half of the textkv sink "
        "(writeStream.format('textkv_sink')) — each batch committed "
        "into an immutable batch=<id>/ directory sealed by a _SUCCESS "
        "marker written AFTER all renames, so a replayed batch is "
        "discarded and a torn directory is invisible (the "
        "idempotent-sink half of end-to-end exactly-once; unit-tested "
        "replay in tests/test_sources.py).  The query then re-reads "
        "ONLY the sealed batch directories, re-aggregates, and the "
        "oracle recomputes the count from the ORIGINAL table — a "
        "dropped batch, a double-committed replay, or a torn "
        "directory leaking into the read all break the hash.  This "
        "completes the pluggable-format matrix: batch read, batch "
        "write (atomic), stream read (offset-resumable), stream "
        "write (idempotent per-batch commit)."
    ),
    tags=("streaming", "sink", "source", "text"),
)
def stream_python_kv_sink_wc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from tda596_lab02mapreduce_spark.functions.text import tokens_nonempty
    from tda596_lab02mapreduce_spark.queries.sinks import _sink_path
    from tda596_lab02mapreduce_spark.sources.pydatasource import (
        committed_stream_batches,
        register_textkv_sink,
        register_wholefile_stream,
    )

    docs = io.load(spark, sf_dir, "documents")
    src = _sink_path(sf_dir, "docs_wholefiles_kvstream")
    docs.select("text").repartition(8).write.mode("overwrite").text(src)
    register_wholefile_stream(spark)
    register_textkv_sink(spark)
    out = _sink_path(sf_dir, "kv_stream_sink_out")
    ckpt = _sink_path(sf_dir, "kv_stream_sink_ckpt")
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    st = (
        spark.readStream.format("wholefile_stream")
        .option("glob", os.path.join(src, "part-*"))
        .load()
    )
    pairs = st.select(
        F.explode(tokens_nonempty("content")).alias("word"), F.lit(1).alias("one")
    )
    q = (
        pairs.writeStream.format("textkv_sink")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = committed_stream_batches(out)
    assert batches, f"no sealed batch directories under {out}"
    files = [os.path.join(b, f) for b in batches
             for f in os.listdir(b) if f.startswith("mr-out-")]
    back = spark.read.text(files)
    kv = F.split(F.col("value"), " ", 2)
    return (
        back.select(kv.getItem(0).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "stream_fingerprint_incremental",
    oracle="""
WITH canon AS (
  SELECT CAST(event_id AS VARCHAR) || '|' ||
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR) || '|' ||
         CAST(user_id AS VARCHAR) || '|' ||
         event_type || '|' ||
         CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR) AS row_str
  FROM events
),
h AS (
  SELECT CAST('0x' || substr(md5(row_str), 1, 8) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(row_str), 9, 8) AS BIGINT) AS h2
  FROM canon
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(h1) AS BIGINT) AS xor_lo,
       CAST(bit_xor(h2) AS BIGINT) AS xor_hi,
       CAST(SUM(h1) AS DECIMAL(38,0)) AS sum_lo
FROM h
""",
    doc=(
        "INCREMENTALLY maintained table fingerprint (the streaming "
        "twin of table_fingerprint_orders): the events stream drains "
        "through foreachBatch, each micro-batch writes its PARTIAL "
        "fingerprint (count / XOR halves / decimal sum of the "
        "portable md5-32 row hashes) to a batchId-keyed dir with "
        "overwrite semantics — per-batch idempotence matters "
        "specifically here because XOR is self-inverse: a naive "
        "read-modify-write running state would UN-count every row a "
        "replayed batch carries, so the partials stay per-batch and "
        "the final fingerprint is the commutative merge (XOR of XORs, "
        "sum of sums) at read time. The merged result is hash-checked "
        "against the batch fingerprint of the ORIGINAL table — a "
        "full value-exact oracle for an incremental streaming "
        "maintenance pipeline. At scale each partial is one row per "
        "micro-batch; the merge reads metadata-sized state."
    ),
    tags=("streaming", "stats", "sink"),
)
def stream_fingerprint_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from tda596_lab02mapreduce_spark.queries.sinks import _sink_path
    from tda596_lab02mapreduce_spark.streaming.windows import events_stream

    base = _sink_path(sf_dir, "fingerprint_stream")
    out, ckpt = f"{base}/partials", f"{base}/ckpt"
    shutil.rmtree(base, ignore_errors=True)

    def write_partial(df: DataFrame, batch_id: int) -> None:
        row_str = F.concat_ws(
            "|",
            F.col("event_id").cast("string"),
            F.unix_micros(F.col("ts")).cast("string"),
            F.col("user_id").cast("string"),
            F.col("event_type"),
            F.round(F.col("value") * 100, 0).cast("bigint").cast("string"),
        )
        md5 = F.md5(row_str)
        h = df.select(
            F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("h2"),
        )
        partial = h.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.expr("bit_xor(h1)").cast("bigint").alias("xor_lo"),
            F.expr("bit_xor(h2)").cast("bigint").alias("xor_hi"),
            F.sum("h1").cast("decimal(38,0)").alias("sum_lo"),
        )
        partial.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

    stream = events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    q = (
        stream.writeStream.foreachBatch(write_partial)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()

    partials = spark.read.parquet(out)
    return partials.agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.expr("bit_xor(xor_lo)").cast("bigint").alias("xor_lo"),
        F.expr("bit_xor(xor_hi)").cast("bigint").alias("xor_hi"),
        F.sum("sum_lo").cast("decimal(38,0)").alias("sum_lo"),
    )


@register(
    "stream_floor_balance_user",
    oracle="""
WITH ev AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 100, 0) AS BIGINT)
              ELSE -CAST(round(value * 100, 0) AS BIGINT) END AS delta_c
  FROM events WHERE event_type IN ('purchase', 'error')
),
c1 AS (
  SELECT *, SUM(delta_c) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS s
  FROM ev
),
c2 AS (
  SELECT *, min(s) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS m
  FROM c1
)
SELECT event_id, user_id,
       CAST(s - CASE WHEN m < 0 THEN m ELSE 0 END AS BIGINT) AS balance_c
FROM c2
""",
    doc=(
        "Streaming twin of inventory_floor_balance: the floored "
        "running balance as a stateful streaming operator "
        "(applyInPandasWithState, state = ONE integer per user). The "
        "pair is the point: the BATCH form needs the reflected-walk "
        "identity because SQL has no per-row recursion; the STREAM "
        "form runs the recursion literally with O(1) state — and the "
        "drained per-event output hash-matches the identity's oracle "
        "bit-for-bit, proving the two formulations equal on the whole "
        "fixture (the stream_ewma_user value-level consistency "
        "discipline). Deltas are computed Spark-side; Python "
        "contributes only integer adds and max."
    ),
    tags=("streaming", "stateful", "udf", "timeseries"),
)
def stream_floor_balance_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.streaming.stateful import floor_balance_user
    from tda596_lab02mapreduce_spark.streaming.windows import (
        events_stream,
        run_available_now,
    )

    deltas = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type").isin("purchase", "error"))
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100, 0).cast("bigint"),
            )
            .otherwise(-F.round(F.col("value") * 100, 0).cast("bigint"))
            .alias("delta_c"),
        )
    )
    drained = run_available_now(
        floor_balance_user(deltas),
        "q_stream_floor_balance",
        output_mode="update",
        src_bytes=source_bytes(sf_dir),
    )
    return drained.select("event_id", "user_id", "balance_c")


@register(
    "stream_cms_merge_users",
    oracle="""
WITH rws AS (SELECT unnest(range(4)) AS r)
SELECT CAST(r AS BIGINT) AS r,
       CAST(CAST('0x' || substr(md5(r || ':' || CAST(user_id AS VARCHAR)), 1, 8)
                 AS BIGINT) % 256 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS mass
FROM events CROSS JOIN rws
GROUP BY 1, 2
""",
    doc=(
        "Streaming count-min sketch with cross-batch MERGE: each "
        "micro-batch folds its rows into a PARTIAL depth-4 x width-256 "
        "CMS (portable md5 buckets, the cms_token_counts family over "
        "user_id) written to a batchId-keyed overwrite dir — the "
        "idempotent exactly-once layout — and the final sketch is the "
        "cell-wise SUM of the partials. CMS cells are counters, so "
        "merge is exact addition and the streamed-and-merged sketch "
        "must equal the one-shot batch sketch BIT-FOR-BIT: that "
        "equality is this query's oracle (DuckDB computes the batch "
        "sketch directly). This is the 100 TB monitoring shape — "
        "every executor/batch keeps 1024 counters, merge is "
        "associative, no keyed state store needed. Per-batch "
        "idempotence is load-bearing exactly as in "
        "stream_fingerprint_incremental: a replayed batch overwrites "
        "its own partial instead of double-counting."
    ),
    tags=("streaming", "sketch", "agg"),
)
def stream_cms_merge_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from tda596_lab02mapreduce_spark.queries.sinks import _sink_path
    from tda596_lab02mapreduce_spark.streaming.windows import events_stream

    base = _sink_path(sf_dir, "cms_stream")
    out, ckpt = f"{base}/partials", f"{base}/ckpt"
    shutil.rmtree(base, ignore_errors=True)

    rws = spark.range(4).select(F.col("id").cast("int").alias("r"))

    def write_partial(df: DataFrame, batch_id: int) -> None:
        cells = (
            df.crossJoin(rws)
            .select(
                "r",
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":",
                                    F.col("r").cast("string"),
                                    F.col("user_id").cast("string"),
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("bigint")
                    % 256
                ).alias("bucket"),
            )
            .groupBy("r", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("mass"))
        )
        cells.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

    stream = events_stream(spark, sf_dir).select("user_id")
    q = (
        stream.writeStream.foreachBatch(write_partial)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    from tda596_lab02mapreduce_spark.streaming.windows import record_drain

    record_drain("q_stream_cms_merge_users", q)

    partials = spark.read.parquet(out)
    return partials.groupBy(
        F.col("r").cast("bigint").alias("r"), F.col("bucket").cast("bigint").alias("bucket")
    ).agg(F.sum("mass").cast("bigint").alias("mass"))


@register(
    "stream_user_spans_ttl",
    oracle="""
WITH e AS (
  SELECT user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
marked AS (
  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > 86400000000
                 THEN 1 ELSE 0 END AS new_span
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
),
spans AS (
  SELECT user_id, ts_us, cents,
         SUM(new_span) OVER (PARTITION BY user_id ORDER BY ts_us
                             ROWS UNBOUNDED PRECEDING) AS span_id
  FROM marked
),
agg AS (
  SELECT user_id, span_id,
         min(ts_us) AS span_start_us,
         max(ts_us) AS span_last_us,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM spans GROUP BY user_id, span_id
),
wm AS (
  SELECT max(ts_us) // 1000 - 7200000 AS wm_ms FROM e
)
SELECT user_id, span_start_us, span_last_us, n_events, sum_cents
FROM agg, wm
WHERE span_id < (SELECT max(span_id) FROM agg a2
                 WHERE a2.user_id = agg.user_id)
   OR span_last_us // 1000 + 86400000 < wm_ms
""",
    doc=(
        "Per-user activity spans with TTL state EXPIRY — the "
        "GroupStateTimeout operator the r11 verdict asked for "
        "(streaming/stateful.py:user_spans_ttl): keyed state that does "
        "not live forever. A span closes (emits one row, frees its "
        "state) when the user's next event arrives > 1 day after the "
        "span's last event (update-close) or when the event-time "
        "watermark passes last+TTL (EventTimeTimeout fire + "
        "state.remove — silent keys EXPIRE, so end-of-drain state is "
        "O(keys active within the TTL+delay horizon), not O(all keys "
        "ever seen — the 100 TB churning-key posture the NoTimeout "
        "trio could not claim). Oracle = gaps-and-islands sessions "
        "(gap > TTL, µs-exact) restricted to the retention horizon: a "
        "session is emitted iff a later session of the same user "
        "exists OR last_ms + TTL_ms < final_watermark_ms (Spark fires "
        "timeouts strictly below the ms-truncated watermark — pinned "
        "empirically; max(ts) is ms-truncated the same way). Counts "
        "and integer cent sums are order-insensitive, so the drained "
        "output hash-matches exactly; spans still open at the final "
        "watermark stay in state, un-emitted, in both engines."
    ),
    tags=("streaming", "stateful", "udf", "ttl"),
)
def stream_user_spans_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.streaming.stateful import user_spans_ttl
    from tda596_lab02mapreduce_spark.streaming.windows import (
        events_stream,
        run_available_now,
    )

    cents = events_stream(spark, sf_dir).select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    drained = run_available_now(
        user_spans_ttl(cents),
        "q_stream_user_spans_ttl",
        output_mode="update",
        src_bytes=source_bytes(sf_dir),
    )
    return drained.select(
        "user_id", "span_start_us", "span_last_us", "n_events", "sum_cents"
    )


@register(
    "stream_ohlc_hourly_append",
    oracle="""
WITH pts AS (
  SELECT user_id,
         time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS hour,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP)) * 1000000) AS HUGEINT)
           * 1000000000 + event_id % 1000000000 AS okey
  FROM events
),
wm AS (
  SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) // 1000 - 7200000 AS wm_ms
  FROM events
)
SELECT user_id, hour,
       arg_min(cents, okey) AS open_c,
       max(cents) AS high_c,
       min(cents) AS low_c,
       arg_max(cents, okey) AS close_c,
       CAST(count(*) AS BIGINT) AS n_events
FROM pts, wm
WHERE epoch_us(hour + INTERVAL 1 HOUR) // 1000 <= wm_ms
GROUP BY user_id, hour
""",
    doc=(
        "APPEND-mode twin of stream_ohlc_hourly — the eviction proof "
        "for the aggregation family (r11 verdict #1b): complete mode "
        "materializes every candle ever opened (the one contracted-"
        "linear state term, 976 MB at 20x), append mode emits a candle "
        "exactly once when the watermark closes it and EVICTS its "
        "state, so end-of-drain state is O(users x OPEN hours) — "
        "bounded by the watermark horizon, not the stream length. "
        "Emission contract (pinned empirically): a window is final "
        "iff window_end_ms <= final_watermark_ms (equality EMITS; the "
        "watermark is max(ts) ms-truncated minus the 2h delay), so "
        "the oracle is the batch OHLC restricted to closed hours. "
        "Candles still open at the final watermark are withheld in "
        "both engines — the same retention-horizon restriction as "
        "stream_user_spans_ttl."
    ),
    tags=("streaming", "timeseries", "agg", "ttl"),
)
def stream_ohlc_hourly_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.queries.timeseries import ohlc_cents_okey
    from tda596_lab02mapreduce_spark.streaming.windows import (
        events_stream,
        run_available_now,
    )

    ev = events_stream(spark, sf_dir)
    cents, okey, aggs = ohlc_cents_okey(ev)
    pts = ev.select("user_id", "ts", cents.alias("cents"), okey.alias("okey"))
    agg = (
        pts.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(*aggs)
        .select(
            "user_id",
            F.col("w.start").alias("hour"),
            "open_c",
            "high_c",
            "low_c",
            "close_c",
            "n_events",
        )
    )
    return run_available_now(
        agg,
        "q_stream_ohlc_hourly_append",
        output_mode="append",
        src_bytes=source_bytes(sf_dir),
    )


def _stream_nb_oracle():
    from tda596_lab02mapreduce_spark.operators.naive_bayes import (
        naive_bayes_oracle_sql,
    )

    return naive_bayes_oracle_sql(io.correctness_sf_dir())


@register(
    "stream_nb_classify",
    oracle=_stream_nb_oracle,
    doc=(
        "MODEL IN THE STREAM (r13 verdict #2): the committed Naive "
        "Bayes sidecar scores a structured stream of documents, "
        "drained with AvailableNow and rolled up to the SAME "
        "confusion matrix as the batch serve — the oracle IS "
        "naive_bayes_lang_confusion's (identical literal weights, "
        "identical tokenize/score/argmax), so the hash proves "
        "batch/stream serving equality end-to-end. The streaming "
        "form is STATELESS by construction: a document's tokens live "
        "in one row, so the per-class score is a higher-order fold "
        "over the split array against the V-entry literal weight "
        "maps (prior_u + sum of w_u, OOV tokens add 0 = the batch "
        "join drop), argmax via min(struct(-score, class)) — zero "
        "state rows, zero shuffles inside the micro-batch, the "
        "production shape for scoring an unbounded feed (state "
        "O(0), not O(docs); DRAIN_STATS pins it). Zero-in-vocab "
        "docs are filtered exactly as the batch inner join drops "
        "them. The confusion rollup happens on the drained sink "
        "(classes^2-bounded). TIMING CONTRACT (ADVICE r14): the "
        "serve-only reading assumes a pre-existing sidecar for "
        "sf_dir — on a fresh staging dir the FIRST execution fits "
        "and commits the model (full distributed fit + 3 collects); "
        "bench.py's untimed warm-up absorbs that, but a reps=1 "
        "harness at a new SF must pre-fit before timing."
    ),
    tags=("streaming", "ml", "llm", "statml"),
)
def stream_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tda596_lab02mapreduce_spark.operators.naive_bayes import (
        naive_bayes_fit,
        naive_bayes_score_columns,
    )
    from tda596_lab02mapreduce_spark.streaming.windows import (
        run_available_now,
        table_stream,
    )

    # serve-only row: the committed sidecar is the model (the batch
    # twin naive_bayes_lang_confusion refits every run — bench
    # honesty lives there; this row times the STREAM serve)
    model = naive_bayes_fit(
        io.load(spark, sf_dir, "documents"), dataset_key=sf_dir
    )
    pred, n_iv = naive_bayes_score_columns(model)
    scored = (
        table_stream(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            pred.alias("pred_lang"),
            n_iv.alias("n_iv"),
        )
        .filter(F.col("n_iv") > 0)
        .drop("n_iv")
    )
    drained = run_available_now(
        scored,
        "q_stream_nb_classify",
        output_mode="append",
        src_bytes=source_bytes(sf_dir, "documents"),
    )
    return drained.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


def _nb_swap_oracle():
    from tda596_lab02mapreduce_spark.operators.naive_bayes import (
        naive_bayes_swap_oracle_sql,
    )

    return naive_bayes_swap_oracle_sql(io.correctness_sf_dir())


def nb_swap_store_base(sf_dir: str) -> str:
    """The per-SF versioned model store the swap drain publishes to —
    under the system tmp dir, REBUILT from scratch on every query run
    (the drain's semantics depend on the manifest starting at v1).
    PID-keyed (the sinks.py per-process scratch precedent): two
    concurrent sessions draining the same sf_dir previously shared one
    store, so one could rmtree the other's manifest/checkpoint
    mid-drain (ADVICE r15 low). The current PID's stores are removed
    at interpreter exit, and stores left by DEAD pids are swept here
    (ADVICE r16 low: PID-keying removed the only cleanup path, so
    exited sessions' stores accumulated in tmp forever)."""
    import atexit
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    key = hashlib.sha1(os.path.realpath(sf_dir).encode()).hexdigest()[:12]
    tmp = tempfile.gettempdir()
    base = os.path.join(tmp, f"tda596-nbswap-{key}-pid{os.getpid()}")
    if base not in _NBSWAP_CLEANUP:
        _NBSWAP_CLEANUP.add(base)
        atexit.register(shutil.rmtree, base, ignore_errors=True)
    # sweep sibling stores whose owning PID no longer exists (their
    # atexit never ran — killed session / crashed interpreter)
    for d in glob.glob(os.path.join(tmp, "tda596-nbswap-*-pid*")):
        pid_s = d.rsplit("-pid", 1)[-1]
        if d == base or not pid_s.isdigit():
            continue
        try:
            os.kill(int(pid_s), 0)  # signal 0: existence probe only
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (PermissionError, OSError):
            pass  # pid alive (or unknowable): leave its store alone
    return base


# stores this process has registered an atexit cleanup for (register
# once per path — atexit has no dedup of its own)
_NBSWAP_CLEANUP: set[str] = set()


@register(
    "stream_nb_model_swap",
    oracle=_nb_swap_oracle,
    doc=(
        "MODEL HOT-SWAP IN THE STREAM (r14 verdict #6): production "
        "serving re-reads the model BETWEEN micro-batches, so this "
        "drain scores through foreachBatch, re-resolving a VERSIONED "
        "model store (sources/versioned.py — numbered immutable "
        "snapshots + an atomically-replaced manifest) at the top of "
        "every batch. The feed is staged copies=2 / maxFilesPerTrigger"
        "=1 → exactly 2 micro-batches of the full documents table; "
        "the store starts at v1 (the committed full-fit NB sidecar), "
        "and the batch-0 handler PUBLISHES v2 (a deterministic refit "
        "on even doc_ids) after scoring — so batch 0 is scored by v1 "
        "and batch 1 by v2, proving the version bump switches scoring "
        "exactly at the batch boundary. Output: (batch_id, "
        "model_version, true_lang, pred_lang, n_docs) — the oracle is "
        "the batch-id-keyed split scoring the full table once with "
        "each committed sidecar's literal weights. Scoring itself is "
        "the stateless per-row fold (stream_nb_classify's); driver "
        "traffic is bounded by contract (V×C+C store rows + ≤ C² "
        "confusion rows per batch). TIMING CONTRACT: like "
        "stream_nb_classify, the serve-only reading assumes both "
        "sidecars exist for sf_dir; the first run fits v2."
    ),
    tags=("streaming", "ml", "statml"),
)
def stream_nb_model_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from tda596_lab02mapreduce_spark.operators.naive_bayes import (
        naive_bayes_fit,
        naive_bayes_model_from_rows,
        naive_bayes_model_rows,
        naive_bayes_score_columns,
        nb_swap_v2_dataset_key,
    )
    from tda596_lab02mapreduce_spark.sources.versioned import (
        read_manifest,
        read_version,
        write_version,
    )
    from tda596_lab02mapreduce_spark.streaming.windows import (
        record_drain,
        table_stream,
    )

    # LOUD 2-batch precondition: copies=2 / maxFilesPerTrigger=1 only
    # yields two FULL-TABLE micro-batches when the source is a single
    # parquet file (a multi-file staged dir would link every part
    # separately and turn this into a per-part drain — a different
    # query whose output could never match the batch-boundary oracle;
    # r15 review)
    src = os.path.join(sf_dir, "documents.parquet")
    if not os.path.isfile(src):
        raise ValueError(
            f"stream_nb_model_swap: {src} is not a single parquet "
            "file — the copies=2/maxFilesPerTrigger=1 staging is "
            "SEMANTIC (exactly 2 full-table micro-batches around the "
            "version bump); run it against the single-file fixtures, "
            "or restage the table as one file first"
        )
    docs = io.load(spark, sf_dir, "documents")
    m1 = naive_bayes_fit(docs, dataset_key=sf_dir)
    m2 = naive_bayes_fit(
        docs.filter(F.col("doc_id") % 2 == 0),
        dataset_key=nb_swap_v2_dataset_key(sf_dir),
    )
    base = nb_swap_store_base(sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    write_version(naive_bayes_model_rows(spark, m1), base, 1)
    v2_rows = naive_bayes_model_rows(spark, m2)

    results: list[tuple] = []

    def handler(batch_df: DataFrame, batch_id: int) -> None:
        # re-resolve the manifest's CURRENT model — the per-batch
        # re-read that makes the swap visible mid-drain
        ver = int(read_manifest(base)["current"])
        model = naive_bayes_model_from_rows(
            read_version(spark, base).collect()  # V×C+C bounded rows
        )
        pred, n_iv = naive_bayes_score_columns(model)
        conf = (
            batch_df.select(
                F.col("lang").alias("true_lang"),
                pred.alias("pred_lang"),
                n_iv.alias("n_iv"),
            )
            .filter(F.col("n_iv") > 0)
            .groupBy("true_lang", "pred_lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
            .collect()  # ≤ classes² bounded rows
        )
        results.extend(
            (int(batch_id), ver, r["true_lang"], r["pred_lang"], int(r["n_docs"]))
            for r in conf
        )
        if int(batch_id) == 0:
            # the mid-drain version bump: published AFTER batch 0 is
            # scored, BEFORE batch 1 starts (micro-batches are serial)
            write_version(v2_rows, base, 2)

    stream = table_stream(spark, sf_dir, "documents", copies=2, max_files=1)
    # state-store/shuffle partitions sized from the feed, not the core
    # count (drain_conf — the run_available_now drains' discipline);
    # the per-batch confusion rollup is classes²-bounded either way
    from tda596_lab02mapreduce_spark.streaming.windows import drain_conf

    with drain_conf(spark, source_bytes(sf_dir, "documents", copies=2)):
        q = (
            stream.writeStream.foreachBatch(handler)
            .queryName("q_stream_nb_model_swap")
            .option("checkpointLocation", os.path.join(base, ".checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    record_drain("q_stream_nb_model_swap", q)
    return spark.createDataFrame(
        results,
        "batch_id bigint, model_version bigint, true_lang string, "
        "pred_lang string, n_docs bigint",
    )
