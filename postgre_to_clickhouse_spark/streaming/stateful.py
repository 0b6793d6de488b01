"""Custom stateful streaming operator (SURVEY.md B18/A26 extension):
event sessionization with ``applyInPandasWithState``.

The reference pipeline is stateless (SURVEY.md A26) — this is the
north-star extension that shows how a custom stateful operator slots
into the same engine: per-user sessions with an inactivity gap, state
kept per group with a processing-time timeout, emitted on close.

Batch twin :func:`sessionize_batch` computes identical sessions with a
window (lag + cumulative sum over the gap predicate) — used as the
oracle for the streaming mode and as the backfill path (A27: one
operator semantics, two execution modes).

Scale: state is O(active users) and bounded by the timeout; the batch
twin is one shuffle on user_id. Both avoid Python in the per-event
path except the Arrow-batched state function itself.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_start", T.TimestampType(), True),
        T.StructField("session_end", T.TimestampType(), True),
        T.StructField("n_events", T.LongType(), True),
    ]
)

_STATE_SCHEMA = "start timestamp, end timestamp, n long"


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming sessionization: groups events per user into sessions
    separated by > ``gap_minutes`` inactivity.

    Sessions close on either path:
    - data path: a later event of the same user arrives past the gap;
    - event-time timeout: the watermark passes session_end + gap with
      no new events — deterministic (event-time driven, replayable),
      unlike processing-time timeouts which also never let an
      ``availableNow`` drain terminate (each fired timeout schedules
      another batch).

    State per user = (start, end, n): O(active users), evicted on close.
    """
    gap = pd.Timedelta(minutes=gap_minutes)

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "session_start": [start], "session_end": [end], "n_events": [n]}
            )
            return
        start, end, n = state.get if state.exists else (None, None, 0)
        closed = []
        for pdf in pdfs:
            for ts in pdf["ts"].sort_values():
                if start is None:
                    start, end, n = ts, ts, 1
                elif ts - end > gap:
                    closed.append((start, end, n))
                    start, end, n = ts, ts, 1
                else:
                    # ts may be EARLIER than the open session's bounds when a
                    # late (within-watermark) event arrives in a later
                    # micro-batch — extend with min/max, never move end
                    # backwards (a backwards end would spuriously split the
                    # session on the next event). Matches sessionize_batch,
                    # which computes min(ts)/max(ts) per session.
                    start, end, n = min(start, ts), max(end, ts), n + 1
        state.update((start, end, n))
        # clamp above the watermark: a session already older than WM (late
        # data admitted this batch) times out on the next tick, not "now"
        timeout_ms = int((end + gap).timestamp() * 1000) + 1
        state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [c[0] for c in closed],
                    "session_end": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch twin: identical session boundaries via lag + cumulative sum.

    A new session starts where the gap from the previous event exceeds
    the threshold; session id = running count of starts; then one
    group-by per (user, session id). Pure JVM window/agg — the oracle
    for the streaming mode and the 100 TB backfill path.
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = gap_minutes * 60 * 1_000_000  # µs math: matches the pandas
    # Timedelta comparison in the streaming twin to full precision
    is_new = (
        F.when(F.lag("ts").over(w).isNull(), 1)
        .when(F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > gap_us, 1)
        .otherwise(0)
    )
    with_sid = events.withColumn("__new", is_new).withColumn(
        "__sid", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_sid.groupBy("user_id", "__sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("__sid")
    )


def dedup_stream_ttl(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("user_id", "updated_at"),
    arrival_col: str = "kafka_offset",
    ttl_minutes: int = 60,
) -> DataFrame:
    """Streaming redelivery dedup on the Spark 4 ``transformWithState``
    API: first-delivered row per key wins; duplicates are dropped for
    as long as the key's state lives.

    vs ``dropDuplicatesWithinWatermark`` (the built-in used elsewhere):
    state TTL here is PROCESSING-time based and per-key, so the horizon
    does not depend on event-time watermark progress — the right shape
    when redelivery lag (broker retries, consumer rebalance) is a
    wall-clock property, as in the reference's Kafka at-least-once
    ingestion (SURVEY.md A19/A23). State = one byte per live key with
    native TTL eviction — O(keys seen in the TTL window), no timers,
    no manual cleanup code.

    Emits the min-``arrival_col`` row the first time a key appears;
    a redelivery after TTL expiry re-emits (bounded-state tradeoff,
    identical to the watermark variant's) — the downstream
    ``ManifestTable.merge_upsert`` last-wins merge absorbs it.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = df.schema
    ttl_ms = int(ttl_minutes) * 60_000

    class _FirstDelivered(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState("seen", "hit tinyint", ttlDurationMs=ttl_ms)

        def handleInputRows(self, key, rows, timerValues):
            if self._seen.exists():
                return
            best = None
            for pdf in rows:
                cand = pdf.sort_values(arrival_col).head(1)
                if best is None or cand[arrival_col].iloc[0] < best[arrival_col].iloc[0]:
                    best = cand
            if best is not None:
                self._seen.update((1,))
                yield best

        def close(self) -> None:
            pass

    return df.groupBy(*[F.col(c) for c in key_cols]).transformWithStateInPandas(
        _FirstDelivered(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="ProcessingTime",
    )
