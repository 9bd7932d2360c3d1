"""Batch-vs-stream invariance (SURVEY.md §7 phase 5): the same
windowed aggregation over the same events must produce identical
results whether executed as a batch frame or drained through
Structured Streaming with Trigger.AvailableNow — our translation of
the reference's 'output must equal the sequential oracle' property."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import io
from tda596_lab02mapreduce_spark.streaming.stateful import running_user_stats
from tda596_lab02mapreduce_spark.streaming.windows import (
    events_stream,
    run_available_now,
    session_agg,
    stream_dedup,
    tumbling_agg,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_batch_vs_stream(spark, sf_smoke):
    batch = tumbling_agg(io.load(spark, sf_smoke, "events"))
    stream = run_available_now(
        tumbling_agg(events_stream(spark, sf_smoke)), "t_tumbling"
    )
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(batch, cols) == _rows(stream, cols)


def test_session_batch_vs_stream(spark, sf_smoke):
    batch = session_agg(io.load(spark, sf_smoke, "events"))
    stream = run_available_now(
        session_agg(events_stream(spark, sf_smoke)), "t_session"
    )
    cols = ["session_start", "session_end", "user_id", "n_events"]
    assert _rows(batch, cols) == _rows(stream, cols)


def test_stream_dedup_within_watermark(spark, sf_smoke):
    """The fixture has globally-unique event_ids, so dedup over the
    plain feed is vacuous — feed every row TWICE (copies=2) and assert
    the drained sink itself (no trailing distinct — that would be
    tautological, advisory finding) holds exactly one row per id."""
    stream = run_available_now(
        stream_dedup(events_stream(spark, sf_smoke, copies=2)),
        "t_dedup",
        output_mode="append",
    )
    n_src = io.load(spark, sf_smoke, "events").count()
    n_distinct = (
        io.load(spark, sf_smoke, "events").select("event_id").distinct().count()
    )
    assert n_src == n_distinct  # fixture precondition: ids unique
    assert stream.count() == n_distinct  # 2x feed collapsed, nothing lost
    assert (
        stream.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0
    ), "drained sink contains duplicate event_ids"


def test_stateful_running_stats(spark, sf_smoke):
    stream = run_available_now(
        running_user_stats(events_stream(spark, sf_smoke)),
        "t_stateful",
        output_mode="update",
    )
    # last update per user must equal the batch totals
    batch = (
        io.load(spark, sf_smoke, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    want = {(r.user_id, r.n_events) for r in batch.collect()}
    got = {(r.user_id, r.n_events) for r in stream.collect()}
    # update-mode memory sink may hold multiple updates per key across
    # micro-batches; AvailableNow over one file yields one batch, so
    # they should match exactly
    assert got == want


def test_tws_unavailable_raises_clearly(spark, sf_smoke):
    """In a container without protobuf the Spark-4 StatefulProcessor
    operator must fail fast with a clear ImportError at plan-build
    time, not crash the streaming Python runner mid-query."""
    import pytest as _pytest

    from tda596_lab02mapreduce_spark.streaming.stateful import (
        tws_available,
        user_envelope_tws,
    )

    if tws_available():
        _pytest.skip("protobuf present: covered by test_tws_envelope_matches_batch")
    ev = events_stream(spark, sf_smoke).select(
        "user_id", "value", F.unix_micros("ts").alias("ts_us")
    )
    with _pytest.raises(ImportError, match="protobuf"):
        user_envelope_tws(ev)


def test_tws_envelope_matches_batch(spark, sf_smoke):
    """Where protobuf exists, the transformWithStateInPandas envelope
    drained with AvailableNow must equal the batch aggregate exactly
    (order-insensitive state transitions ⇒ deterministic output)."""
    import pytest as _pytest

    _pytest.importorskip("google.protobuf")
    from pyspark.sql.window import Window

    from tda596_lab02mapreduce_spark.streaming.stateful import (
        TWS_PROVIDER,
        user_envelope_tws,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", TWS_PROVIDER)
    try:
        ev = events_stream(spark, sf_smoke).select(
            "user_id", "value", F.unix_micros("ts").alias("ts_us")
        )
        drained = run_available_now(
            user_envelope_tws(ev), "t_tws_envelope", output_mode="update"
        )
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        drained.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "user_id", "n_events", F.round("sum_value", 2).alias("sum_value"),
            "first_ts_us", "last_ts_us",
        )
    )
    batch = (
        io.load(spark, sf_smoke, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.min(F.unix_micros("ts")).alias("first_ts_us"),
            F.max(F.unix_micros("ts")).alias("last_ts_us"),
        )
    )
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, batch.collect()))


def test_late_data_dropped_by_watermark(spark, sf_smoke, tmp_path):
    """Two micro-batches: the second replays old (late) events beyond
    the watermark — they must NOT change closed windows (append mode
    emits each finalized window once)."""
    events = io.load(spark, sf_smoke, "events")
    early = events.filter(F.col("event_id") % 2 == 0)
    late = events.filter(F.col("event_id") % 2 == 1).withColumn(
        "ts", F.col("ts") - F.expr("INTERVAL 30 DAYS")
    )
    import glob
    import shutil

    src = str(tmp_path / "src")
    (tmp_path / "src").mkdir()
    ckpt = str(tmp_path / "ckpt")

    def add_file(i, df):
        staging = str(tmp_path / f"stage{i}")
        df.coalesce(1).write.parquet(staging)
        part = glob.glob(staging + "/part-*.parquet")[0]
        shutil.copy(part, f"{src}/b{i}.parquet")

    out = str(tmp_path / "out")

    def run_once(qname):
        # file sink (not memory): the memory sink cannot recover from a
        # checkpoint, and watermark persistence across restarts is the
        # point of this test
        stream = spark.readStream.schema(events.schema).parquet(src)
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.format("parquet")
            .queryName(qname)
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    # run 1: only the early file exists → watermark advances to
    # max(early ts) - 1h and persists in the checkpoint
    add_file(0, early)
    run_once("t_late_r1")
    # run 2: replay 30-days-old events — all below the persisted
    # watermark, so they must be dropped, not aggregated
    add_file(1, late)
    out2 = run_once("t_late_r2")
    late_windows = {
        r["w"]["start"]
        for r in late.groupBy(F.window("ts", "1 hour").alias("w")).agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    emitted2 = {r["w"]["start"] for r in out2}
    assert not (emitted2 & late_windows), (
        f"late windows leaked past the watermark: {sorted(emitted2 & late_windows)[:5]}"
    )


def test_interval_join_batch_vs_stream(spark, sf_smoke):
    """The watermarked stream-stream self-join must emit exactly the
    batch join's pairs once the stream drains (append mode: joins
    emit as matches are found, nothing held to end-of-time)."""
    from tda596_lab02mapreduce_spark.streaming.windows import (
        purchase_click_attribution,
    )

    batch = purchase_click_attribution(io.load(spark, sf_smoke, "events"))
    stream = run_available_now(
        purchase_click_attribution(events_stream(spark, sf_smoke)),
        "interval_join_stream",
        output_mode="append",
    )
    cols = batch.columns
    assert sorted(map(tuple, batch.select(*cols).collect())) == sorted(
        map(tuple, stream.select(*cols).collect())
    )


def test_enrich_segment_batch_vs_stream(spark, sf_smoke):
    from tda596_lab02mapreduce_spark.streaming.windows import enriched_segment_agg

    customer = io.load(spark, sf_smoke, "customer")
    batch = enriched_segment_agg(io.load(spark, sf_smoke, "events"), customer)
    stream = run_available_now(
        enriched_segment_agg(events_stream(spark, sf_smoke), customer),
        "t_enrich_segment",
    )
    cols = ["window_start", "c_mktsegment", "n_events", "sum_value"]
    assert _rows(batch, cols) == _rows(stream, cols)


def test_foreachbatch_sink_is_idempotent_per_batch(spark, sf_smoke, tmp_path):
    """Exactly-once file sinks under retries: foreachBatch writes each
    micro-batch to a batchId-deterministic directory with overwrite
    semantics, so a REPLAYED batch (task retry after partial failure)
    lands byte-identically instead of duplicating rows — the
    idempotent-writer half of Spark's replayed-source + idempotent-sink
    exactly-once contract."""
    out = str(tmp_path / "sink")
    seen = []

    def write_batch(df, batch_id):
        df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")
        seen.append(batch_id)

    stream = events_stream(spark, sf_smoke).select("event_id", "user_id")
    q = (
        stream.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert seen, "no batch executed"

    first = spark.read.parquet(out)
    n1 = first.count()
    rows1 = sorted(tuple(r) for r in first.collect())

    # simulate the retry: replay batch 0's data through the same writer.
    # Materialize first — a real retry re-offers the batch rows from the
    # checkpointed source, not a lazy scan of the sink being overwritten.
    replay_rows = spark.read.parquet(f"{out}/batch={seen[0]}")
    replay = spark.createDataFrame(replay_rows.collect(), replay_rows.schema)
    write_batch(replay, seen[0])

    again = spark.read.parquet(out)
    assert again.count() == n1, "replayed batch duplicated rows"
    assert sorted(tuple(r) for r in again.collect()) == rows1

    # and the sink content matches the source exactly (no loss either)
    src_n = events_stream(spark, sf_smoke).select("event_id").transform(
        lambda df: run_available_now(df, "t_febatch_src", output_mode="append")
    ).count()
    assert n1 == src_n


_PHASE1 = r"""
import json, os, sys, time
from pyspark.sql import SparkSession

src, ckpt, out = sys.argv[1], sys.argv[2], sys.argv[3]
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("restart-phase1")
    .getOrCreate()
)
schema = spark.read.parquet(src).schema
stream = (
    spark.readStream.schema(schema)
    .option("maxFilesPerTrigger", 1)
    .parquet(src)
)
done = []

def wb(df, bid):
    df.write.mode("overwrite").parquet(f"{out}/batch={bid}")
    done.append(bid)

q = stream.writeStream.foreachBatch(wb).option(
    "checkpointLocation", ckpt
).start()
# kill mid-stream: wait for batch 0's COMMIT to land in the WAL, then
# stop the query while later batches are still pending
while not os.path.exists(os.path.join(ckpt, "commits", "0")):
    time.sleep(0.1)
q.stop()
q.awaitTermination()
committed = sorted(
    int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()
)
print("PHASE1 " + json.dumps({"written": done, "committed": committed}))
spark.stop()
"""


def test_exactly_once_across_process_restart(spark, sf_smoke, tmp_path):
    """End-to-end exactly-once ACROSS A PROCESS RESTART (VERDICT r9
    #8): a subprocess starts a foreachBatch query over a 4-file source
    (maxFilesPerTrigger=1), is stopped mid-stream right after batch 0's
    commit lands in the WAL, and exits. THIS process then resumes from
    the same checkpoint with Trigger.AvailableNow and the same
    idempotent batchId-keyed writer. Proofs: (a) the resumed run never
    re-processes a batch the dead process committed (offsets replay
    from the WAL, not from zero); (b) the union of both processes'
    sink output equals the batch oracle exactly — no event lost at the
    kill point, none duplicated by the resume. Previously this claim
    was only argued compositionally (checkpoint-resume + idempotent
    sink tested separately, in one process)."""
    import json
    import subprocess
    import sys

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")
    # 4-file staging => 4 micro-batches at maxFilesPerTrigger=1
    (
        io.load(spark, sf_smoke, "events")
        .select("event_id", "user_id", "event_type")
        .repartition(4)
        .write.parquet(src)
    )

    env = dict(**__import__("os").environ)
    r = subprocess.run(
        [sys.executable, "-c", _PHASE1, src, ckpt, out],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = next(l for l in r.stdout.splitlines() if l.startswith("PHASE1 "))
    phase1 = json.loads(line[len("PHASE1 "):])
    assert 0 in phase1["committed"], phase1
    # the kill was genuinely mid-stream: the dead process must NOT have
    # drained all 4 batches
    assert len(phase1["committed"]) < 4, phase1

    seen2 = []

    def wb(df, bid):
        df.write.mode("overwrite").parquet(f"{out}/batch={bid}")
        seen2.append(bid)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(wb)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()

    assert seen2, "resumed process processed nothing"
    # (a) no committed batch re-processed after the restart
    assert not set(seen2) & set(phase1["committed"]), (seen2, phase1)
    # (b) union of both processes' output == the batch oracle, exactly
    sink = spark.read.parquet(out).select("event_id", "user_id", "event_type")
    oracle = spark.read.parquet(src)
    assert sorted(map(tuple, sink.collect())) == sorted(
        map(tuple, oracle.collect())
    )


def test_fouter_interval_join_boundary_band_clicks(spark, tmp_path):
    """Regression for the round-10 ADVICE-high finding: an unmatched
    CLICK is only emitted once the global watermark passes
    c_ts + 30 min, so clicks in [mx-150, mx-130) are NEVER emitted by
    the stream; a symmetric -130 cut on both sides silently dropped
    them whenever a fixture placed clicks there (the shipped fixtures
    happened to have none — this fixture PLANTS them). The asymmetric
    cuts (purchases mx-130, clicks mx-160) must make the drained
    reconstruction equal the oracle's FULL OUTER join exactly."""
    import datetime as dt

    import duckdb

    from tda596_lab02mapreduce_spark.registry import registry

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, uid, typ, minutes):
        return (eid, base + dt.timedelta(minutes=minutes), uid, typ, 1.0, "{}")

    rows = [
        # old, safely-drained pairs and orphans
        ev(1, 1, "click", 0),
        ev(2, 1, "purchase", 10),      # matched pair
        ev(3, 2, "purchase", 20),      # organic purchase (no click)
        ev(4, 3, "click", 30),         # unconverted click
        # the poison band: mx = 1000; clicks in [850, 870) sit inside a
        # symmetric -130 cut (ts < 870) but the stream never emits them
        # as unmatched (their eviction horizon is c_ts + 30 > watermark)
        # — the OLD cut diverged from the oracle exactly here; the
        # asymmetric cut excludes the band from BOTH sides
        ev(5, 4, "click", 855),        # unmatched, in [mx-150, mx-130)
        ev(6, 5, "click", 860),        # matched to an UNSAFE purchase only
        ev(7, 5, "purchase", 880),     # purchase in the unsafe region
        # a deep unmatched click well below the mx-160 click cut: MUST
        # surface as an orphan row (the eviction path itself works)
        ev(10, 7, "click", 700),
        # watermark anchors
        ev(8, 6, "click", 1000),
        ev(9, 6, "purchase", 1000),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    q = registry()["stream_interval_join_fouter"]
    got = sorted(
        tuple((v is None, str(v)) for v in r)
        for r in q.spark_fn(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet/*.parquet'"
    )
    want = sorted(
        tuple((v is None, str(v)) for v in r)
        for r in con.execute(q.oracle_text()).fetchall()
    )
    assert got == want
    # the safe unmatched click surfaced as an orphan row...
    assert ((True, "None"), (False, "10"), (False, "7")) in set(got)
    # ...and the band clicks are consistently absent from BOTH sides
    # (the old symmetric cut kept them in the oracle only)
    clicks_out = {c for _, c, _ in got}
    assert (False, "5") not in clicks_out and (False, "6") not in clicks_out


def test_user_spans_ttl_state_expires(spark, sf_correctness):
    """The r11 verdict #1a contract, measured with the engine's own
    state-store metrics: after the drain, keys silent for more than
    TTL+delay have NO state rows (EventTimeTimeout fired and
    state.remove() ran), active keys hold exactly one open span, and
    the emitted row count equals sessions-minus-open-spans. The hash
    gate proves the VALUES; this pins the EXPIRY."""
    from pyspark.sql import functions as F

    from tda596_lab02mapreduce_spark.queries.streaming_batch import (
        stream_user_spans_ttl,
    )
    from tda596_lab02mapreduce_spark.streaming.stateful import (
        SPANS_TTL_MS,
        SPANS_TTL_US,
        SPANS_WATERMARK_MS,
    )
    from tda596_lab02mapreduce_spark.streaming.windows import DRAIN_STATS

    out_rows = stream_user_spans_ttl(spark, sf_correctness).count()
    stats = DRAIN_STATS["q_stream_user_spans_ttl"]

    ev = io.load(spark, sf_correctness, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )
    wm_ms = (
        ev.agg(F.max("ts_us")).collect()[0][0] // 1000 - SPANS_WATERMARK_MS
    )
    per_user = ev.groupBy("user_id").agg(F.max("ts_us").alias("last_us"))
    n_users = per_user.count()
    n_expired = per_user.filter(
        F.col("last_us") / 1000 + SPANS_TTL_MS < wm_ms
    ).count()
    # batch sessionization: total spans (gap > TTL starts a new one)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts_us")
    total_spans = (
        ev.withColumn("prev", F.lag("ts_us").over(w))
        .withColumn(
            "new_span",
            (
                F.col("prev").isNull()
                | (F.col("ts_us") - F.col("prev") > SPANS_TTL_US)
            ).cast("long"),
        )
        .agg(F.sum("new_span"))
        .collect()[0][0]
    )

    # expiry measured: silent keys dropped from the store...
    assert stats["state_rows_last"] == n_users - n_expired
    assert n_expired > 0  # the fixture genuinely exercises the timeout
    assert stats["state_rows_max"] == n_users
    # ...and the output is sessions minus the still-open spans
    assert out_rows == total_spans - (n_users - n_expired)


def test_ohlc_append_state_bounded_vs_complete(spark, sf_correctness):
    """The r11 verdict #1b contract: append-mode OHLC evicts closed
    candles, so end-of-drain state is O(users x OPEN hours) — the
    candles the final watermark has not closed — while complete mode
    retains every candle ever opened (the contracted-linear term).
    Both measured from StreamingQueryProgress, not prose."""
    from pyspark.sql import functions as F

    from tda596_lab02mapreduce_spark.queries.streaming_batch import (
        stream_ohlc_hourly,
        stream_ohlc_hourly_append,
    )
    from tda596_lab02mapreduce_spark.streaming.windows import DRAIN_STATS

    n_append = stream_ohlc_hourly_append(spark, sf_correctness).count()
    n_complete = stream_ohlc_hourly(spark, sf_correctness).count()
    s_append = DRAIN_STATS["q_stream_ohlc_hourly_append"]
    s_complete = DRAIN_STATS["q_stream_ohlc_hourly"]

    ev = io.load(spark, sf_correctness, "events").select(
        F.col("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    wm_ms = ev.agg(F.max("ts_us")).collect()[0][0] // 1000 - 7_200_000
    candles = ev.select(
        "user_id", (F.col("ts_us") - F.col("ts_us") % 3_600_000_000).alias("h")
    ).distinct()
    n_candles = candles.count()
    n_open = candles.filter(
        (F.col("h") / 1000 + 3_600_000) > wm_ms
    ).count()

    # complete mode: the store holds EVERY candle at drain end
    assert s_complete["state_rows_last"] == n_candles
    # append mode: closed candles were EMITTED (+evicted); only the
    # watermark-open tail remains in state
    assert s_append["state_rows_last"] == n_open
    assert n_open < n_candles / 50  # bounded by horizon, not history
    assert n_append == n_candles - n_open
    assert n_complete == n_candles


def test_user_spans_ttl_straggler_due_at_drain_end(spark, tmp_path, monkeypatch):
    """A beyond-watermark straggler whose span is ALREADY expiry-due
    when it arrives in the FINAL micro-batch must still emit: the
    timeout re-arm alone can never fire for it (no later batch advances
    the watermark), so the update door has to close it immediately.
    Two-file staged drain: batch 1 = user 900001 at noon (watermark →
    10:00), batch 2 = user 900002's lone event two days earlier
    (due = last + 1 day < watermark at processing time)."""
    import datetime
    import os
    import shutil

    from tda596_lab02mapreduce_spark.queries.streaming_batch import (
        stream_user_spans_ttl,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, value double",
        )

    t_late = datetime.datetime(2024, 6, 10, 12, 0, 0)
    t_old = datetime.datetime(2024, 6, 8, 0, 0, 0)
    b1 = mk([(1, t_late, 900001, 1.0)])
    b2 = mk([(2, t_old, 900002, 2.0)])

    ev_dir = tmp_path / "events.parquet"
    ev_dir.mkdir()
    for i, df in enumerate((b1, b2), start=1):
        stage = tmp_path / f"stage{i}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        dst = ev_dir / f"part-{i:04d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1700000000 + i * 100, 1700000000 + i * 100))

    monkeypatch.setenv("SPARK_GRAFT_STREAM_MAX_FILES", "1")
    out = {
        r["user_id"]: r
        for r in stream_user_spans_ttl(spark, str(tmp_path)).collect()
    }
    # user 900002's already-due span emitted despite arriving in the
    # final batch; user 900001's span is still open (not due) — held
    assert 900002 in out and 900001 not in out
    r = out[900002]
    assert int(r["n_events"]) == 1 and int(r["sum_cents"]) == 200

def test_user_spans_ttl_double_straggler_late_drop_contract(
    spark, tmp_path, monkeypatch
):
    """The contracted double-straggler residual
    (streaming/stateful.py straggler door), CONSTRUCTED: when a SECOND
    beyond-watermark straggler for the same key lands in a LATER
    micro-batch within TTL of the first, the engine never shows it to
    the operator — Spark's late-events filter uses the previous
    batch's watermark (one batch behind eviction, which is exactly why
    the FIRST straggler got in), so by the next batch it has caught up
    and drops the second event (numRowsDroppedByWatermark). Pins the
    measured divergence vs the batch oracle's gap rule: the engine
    emits exactly ONE span carrying only the first straggler, where
    the oracle would merge both events into one span — the documented
    drop-late-data contract, bounded to events already beyond the
    watermark. Three-file staged drain: batch 0 = user 900001 at noon
    June 10 (watermark -> 10:00), batches 1+2 = user 900002 at June 8
    00:00 then June 8 06:00 (6 h apart — within the 1-day TTL, both
    beyond-watermark and already expiry-due on arrival)."""
    import datetime
    import os
    import shutil

    from tda596_lab02mapreduce_spark.queries.streaming_batch import (
        stream_user_spans_ttl,
    )
    from tda596_lab02mapreduce_spark.streaming.windows import DRAIN_STATS

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, value double",
        )

    t_wm = datetime.datetime(2024, 6, 10, 12, 0, 0)
    t_s1 = datetime.datetime(2024, 6, 8, 0, 0, 0)
    t_s2 = datetime.datetime(2024, 6, 8, 6, 0, 0)  # 6 h after s1 < TTL
    batches = [
        mk([(1, t_wm, 900001, 1.0)]),
        mk([(2, t_s1, 900002, 2.0)]),
        mk([(3, t_s2, 900002, 3.5)]),
    ]

    ev_dir = tmp_path / "events.parquet"
    ev_dir.mkdir()
    for i, df in enumerate(batches, start=1):
        stage = tmp_path / f"stage{i}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        dst = ev_dir / f"part-{i:04d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1700000000 + i * 100, 1700000000 + i * 100))

    monkeypatch.setenv("SPARK_GRAFT_STREAM_MAX_FILES", "1")
    rows = [
        r
        for r in stream_user_spans_ttl(spark, str(tmp_path)).collect()
        if r["user_id"] == 900002
    ]
    stats = DRAIN_STATS["q_stream_user_spans_ttl"]
    # all three staged events were CONSUMED by the source...
    assert stats["input_rows"] == 3
    # ...but the second straggler was dropped by the engine's
    # late-events watermark before reaching the operator
    assert stats["late_dropped"] == 1
    # exactly ONE span for the double-straggler key, carrying only the
    # first event — where the batch oracle's gap rule (gap <= TTL)
    # would have merged both into (t_s1, t_s2, 2, 550)
    us = lambda dt: int(dt.timestamp() * 1_000_000)  # noqa: E731
    assert len(rows) == 1, rows
    r = rows[0]
    assert (
        int(r["span_start_us"]),
        int(r["span_last_us"]),
        int(r["n_events"]),
        int(r["sum_cents"]),
    ) == (us(t_s1), us(t_s1), 1, 200)


def test_stream_nb_classify_matches_batch_serve_stateless(spark, sf_correctness):
    """Model-in-the-stream (r13 verdict #2): the streaming NB serve
    must (a) produce EXACTLY the batch serve's confusion matrix on
    the same documents — same sidecar, same tokenize/score/argmax —
    and (b) hold ZERO state rows (the per-row fold form makes scoring
    stateless; an explode+aggregate form would have shown up here as
    doc-grain state)."""
    from tda596_lab02mapreduce_spark.registry import get
    from tda596_lab02mapreduce_spark.streaming.windows import DRAIN_STATS

    s = get("stream_nb_classify").spark_fn(spark, sf_correctness)
    b = get("naive_bayes_lang_confusion").spark_fn(spark, sf_correctness)
    assert s.exceptAll(b).count() == 0
    assert b.exceptAll(s).count() == 0
    stats = DRAIN_STATS["q_stream_nb_classify"]
    assert stats["n_batches"] >= 1 and stats["input_rows"] > 0
    assert stats["state_rows_max"] == 0
    assert stats["state_mem_max_bytes"] == 0


def test_stream_nb_model_swap_two_version_drain(spark, sf_correctness):
    """Model hot-swap (r14 verdict #6): the foreachBatch drain must
    (a) score batch 0 with v1 and batch 1 with v2 — the version bump
    published mid-drain switches scoring EXACTLY at the micro-batch
    boundary, (b) reproduce the batch serve's confusion for each
    model version on the full table (each micro-batch IS the full
    table via the copies=2 staging), and (c) leave the versioned
    store's manifest at current=2 with both snapshots listed."""
    from tda596_lab02mapreduce_spark.operators.naive_bayes import (
        naive_bayes_confusion,
        naive_bayes_fit,
        nb_swap_v2_dataset_key,
    )
    from tda596_lab02mapreduce_spark.queries.streaming_batch import (
        nb_swap_store_base,
    )
    from tda596_lab02mapreduce_spark.registry import get
    from tda596_lab02mapreduce_spark.sources.versioned import read_manifest

    rows = (
        get("stream_nb_model_swap")
        .spark_fn(spark, sf_correctness)
        .collect()
    )
    by_batch: dict[int, dict] = {}
    for r in rows:
        by_batch.setdefault(int(r["batch_id"]), {})[
            (r["true_lang"], r["pred_lang"])
        ] = int(r["n_docs"])
        # the version is a pure function of the batch id: the swap
        # happened at the boundary, never inside a batch
        assert int(r["model_version"]) == int(r["batch_id"]) + 1, tuple(r)
    assert set(by_batch) == {0, 1}

    docs = io.load(spark, sf_correctness, "documents")
    m1 = naive_bayes_fit(docs, dataset_key=sf_correctness)
    m2 = naive_bayes_fit(
        docs.filter(F.col("doc_id") % 2 == 0),
        dataset_key=nb_swap_v2_dataset_key(sf_correctness),
    )
    for batch_id, model in ((0, m1), (1, m2)):
        expected = {
            (r["true_lang"], r["pred_lang"]): int(r["n_docs"])
            for r in naive_bayes_confusion(docs, model).collect()
        }
        assert by_batch[batch_id] == expected, f"batch {batch_id}"
    # the two models genuinely differ (otherwise the boundary proof
    # is vacuous): the half-corpus refit must move some prediction
    assert by_batch[0] != by_batch[1]

    mf = read_manifest(nb_swap_store_base(sf_correctness))
    assert mf["current"] == 2 and mf["versions"] == [1, 2]


def test_drain_conf_sizes_from_bytes_and_restores(spark):
    """A KB-scale drain runs at the 4-partition floor (never above the
    session setting), and the session value comes back on exit."""
    from tda596_lab02mapreduce_spark.streaming.windows import drain_conf

    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    with drain_conf(spark, 1024):
        assert spark.conf.get(conf) == str(min(int(before), 4))
    assert spark.conf.get(conf) == before


@pytest.mark.parametrize("bad", ["abc", "0", "-4", "2.5", " 3"])
def test_drain_conf_invalid_env_override_falls_back(spark, monkeypatch, bad):
    """The retired SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS variable is not
    read: whatever it holds, the drain is sized from its input bytes as
    if it were unset, and the session value comes back on exit."""
    from tda596_lab02mapreduce_spark.streaming.windows import drain_conf

    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", raising=False)
    with drain_conf(spark, 1024):
        derived = spark.conf.get(conf)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", bad)
    with drain_conf(spark, 1024):
        assert spark.conf.get(conf) == derived
    assert spark.conf.get(conf) == before


def test_source_bytes_missing_path_is_unknown(sf_smoke, tmp_path):
    from tda596_lab02mapreduce_spark.streaming.windows import source_bytes

    assert source_bytes(str(tmp_path / "no_such_sf")) is None
    n = source_bytes(sf_smoke)
    assert n and source_bytes(sf_smoke, copies=2) == 2 * n


def test_source_bytes_non_local_uri_is_unknown(sf_smoke):
    from tda596_lab02mapreduce_spark.streaming.windows import source_bytes

    assert source_bytes("s3a://bucket/sf0.01") is None
    assert source_bytes("hdfs://nn:8020/data/sf0.01", "documents") is None
    assert source_bytes("file://" + sf_smoke) == source_bytes(sf_smoke)
