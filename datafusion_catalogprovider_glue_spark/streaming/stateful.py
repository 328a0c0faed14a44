"""E5: custom stateful streaming operator (applyInPandasWithState).

The reference has no streaming at all (SURVEY.md §2-E); Spark's
session_window covers declarative sessionization (E3).  This module
adds the *custom state* variant — per-user sessionization written
against the arbitrary-stateful-processing API — because that API is
what a production pipeline reaches for when session semantics stop
fitting a gap window (e.g. cart-abandonment funnels, per-entity model
state).  Plumbing (state schema, event-time timeout, watermark-driven
flush, append-mode emission) is the real thing; the per-group logic is
pure pandas.

Determinism contract for the oracle: with an ``availableNow`` one-shot
run, all events arrive in batch 1 (watermark 0 → nothing late), and
the final no-data batch advances the watermark to max(ts), firing
EventTimeTimeout for every held session whose (last_ts + gap) <
max(ts).  So the emitted set = all gap-closed sessions + held sessions
that time out — i.e. every session EXCEPT a user's final one when its
end lies within ``gap`` of the global max timestamp.  The DuckDB twin
reproduces exactly that filter.  (Checked: no testdata sf has a
session end exactly equal to max(ts), so the strict-< boundary is
unambiguous.)

100 TB notes: state is keyed by user_id → shuffle partitioning is
uniform; per-group state is O(1) (start/last/count, never the event
list); the watermark bounds total state to one open session per active
user; Arrow batches carry rows executor-side only.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from datafusion_catalogprovider_glue_spark.operators.registry import query
from datafusion_catalogprovider_glue_spark.session import apply_engine_conf
from datafusion_catalogprovider_glue_spark.tables import (
    ensure_micros_ts,
    events_raw_ddl,
    table_path,
)

SESSION_GAP_MIN = 30
_GAP = pd.Timedelta(minutes=SESSION_GAP_MIN)
_FMT = "%Y-%m-%d %H:%M:%S"

_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", StringType()),
        StructField("session_end", StringType()),
        StructField("n_events", LongType()),
    ]
)
# held-open session per user: (start_us, last_us, n)
_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


def _us(ts: pd.Timestamp) -> int:
    return ts.value // 1000


def _row(user_id: int, start_us: int, last_us: int, n: int) -> dict[str, Any]:
    start = pd.Timestamp(start_us * 1000)
    end = pd.Timestamp(last_us * 1000) + _GAP
    return {
        "user_id": user_id,
        "session_start": start.strftime(_FMT),
        "session_end": end.strftime(_FMT),
        "n_events": n,
    }


def _sessionize(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user session accumulator.  Emits gap-closed sessions as
    data arrives; holds the open session in state with an event-time
    timeout at (last_ts + gap) so the watermark flushes it."""
    (user_id,) = key
    if state.hasTimedOut:
        start_us, last_us, n = state.get
        state.remove()
        yield pd.DataFrame([_row(user_id, start_us, last_us, n)])
        return

    ts = pd.concat([pdf["ts"] for pdf in pdfs]).sort_values().reset_index(drop=True)
    if state.exists:
        start_us, last_us, n = state.get
    else:
        start_us = last_us = _us(ts.iloc[0])
        n = 0

    out: list[dict[str, Any]] = []
    for t in ts:
        t_us = _us(t)
        if n > 0 and t_us - last_us > _GAP.value // 1000:
            out.append(_row(user_id, start_us, last_us, n))
            start_us, n = t_us, 0
        last_us = max(last_us, t_us)
        n += 1

    state.update((start_us, last_us, n))
    state.setTimeoutTimestamp(last_us // 1000 + SESSION_GAP_MIN * 60 * 1000)
    if out:
        yield pd.DataFrame(out)


@query(
    "stream_stateful_sessionize",
    oracle=f"""
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    mx AS (SELECT max(ts) AS m FROM e),
    marked AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL '{SESSION_GAP_MIN} minutes'
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    ), sessions AS (
        SELECT user_id,
               MIN(ts) AS s_start,
               MAX(ts) + INTERVAL '{SESSION_GAP_MIN} minutes' AS s_end,
               COUNT(*) AS n_events
        FROM numbered GROUP BY user_id, session_id
    )
    SELECT user_id,
           strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
           n_events
    FROM sessions, mx
    WHERE s_end < m  -- held-open sessions at end-of-stream are not emitted
    """,
)
def stream_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: real Structured Streaming with arbitrary per-key state —
    parquet file source → watermark(0s) → applyInPandasWithState
    (EventTimeTimeout) → memory sink, drained with availableNow."""
    apply_engine_conf(spark)
    raw_schema = events_raw_ddl(sf_dir)
    stream_dir = os.path.join(
        "/tmp",
        f"glue_spark_stream_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(table_path(sf_dir, "events"), link)

    stream = (
        ensure_micros_ts(spark.readStream.schema(raw_schema).parquet(stream_dir))
        .select("user_id", "ts")
    )
    sessions = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    sink_name = "stream_stateful_sessionize_sink"
    q = (
        sessions.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(sink_name)


# ---------------------------------------------------------------------------
# E5c: streaming funnel — per-user conversion state machine
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ["view", "click", "purchase"]

_FUNNEL_OUTPUT = StructType(
    [StructField("user_id", LongType()), StructField("depth", LongType())]
)
# (depth, last_matched_us, max_seen_us)
_FUNNEL_STATE = StructType(
    [
        StructField("depth", LongType()),
        StructField("last_matched_us", LongType()),
        StructField("max_seen_us", LongType()),
    ]
)


def _funnel_step(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user funnel accumulator: greedy earliest-match advance of a
    (depth, last_matched_ts) state machine — identical semantics to
    the batch ``events_funnel`` fold (operators/funnel.py), held in
    O(1) state per user and flushed by event-time timeout when the
    watermark passes the user's last event."""
    (user_id,) = key
    if state.hasTimedOut:
        depth, _last, _seen = state.get
        state.remove()
        yield pd.DataFrame([{"user_id": user_id, "depth": depth}])
        return

    df = (
        pd.concat(list(pdfs))
        .sort_values(["ts", "event_id"])
        .reset_index(drop=True)
    )
    if state.exists:
        depth, last_matched_us, max_seen_us = state.get
    else:
        depth, last_matched_us, max_seen_us = 0, -1, -1

    for t, et in zip(df["ts"], df["event_type"]):
        t_us = _us(t)
        max_seen_us = max(max_seen_us, t_us)
        if depth < 3 and et == _FUNNEL_STEPS[depth] and t_us > last_matched_us:
            depth += 1
            last_matched_us = t_us

    state.update((depth, last_matched_us, max_seen_us))
    state.setTimeoutTimestamp(max_seen_us // 1000 + 1)
    return
    yield  # pragma: no cover — generator form with no batch-time emission


@query(
    "stream_funnel_stateful",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        FROM events
    ),
    mx AS (SELECT max(ts) AS m FROM e),
    u1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM e
        WHERE event_type = 'view' GROUP BY user_id
    ),
    u2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2 FROM e
        JOIN u1 ON e.user_id = u1.user_id
        WHERE e.event_type = 'click' AND e.ts > u1.t1 GROUP BY e.user_id
    ),
    u3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3 FROM e
        JOIN u2 ON e.user_id = u2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > u2.t2 GROUP BY e.user_id
    ),
    d AS (SELECT user_id, MAX(ts) AS umax FROM e GROUP BY user_id)
    SELECT d.user_id,
           CAST(CASE WHEN u3.user_id IS NOT NULL THEN 3
                     WHEN u2.user_id IS NOT NULL THEN 2
                     WHEN u1.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS depth
    FROM d
    LEFT JOIN u1 ON d.user_id = u1.user_id
    LEFT JOIN u2 ON d.user_id = u2.user_id
    LEFT JOIN u3 ON d.user_id = u3.user_id, mx
    WHERE d.umax < mx.m  -- the watermark never passes the max-ts user
    """,
)
def stream_funnel_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5c: streaming conversion funnel with arbitrary per-key state —
    the cart-abandonment-style operator the sessionizer's module
    docstring promises.  Same stream wiring as
    stream_stateful_sessionize (parquet source → watermark 0 →
    applyInPandasWithState with EventTimeTimeout → memory sink,
    availableNow drain); state per user is THREE numbers (depth,
    last-matched ts, last-seen ts), never an event buffer, so state
    size is O(active users) regardless of stream length.  Emission is
    timeout-only: a user's depth is final once the watermark passes
    their last event (the one-shot drain flushes everyone except the
    holder(s) of the global max timestamp — the oracle applies the
    same cut).  Greedy earliest-match advance equals the cascaded-MIN
    form, so the oracle is pure SQL over the same events."""
    apply_engine_conf(spark)
    raw_schema = events_raw_ddl(sf_dir)
    stream_dir = os.path.join(
        "/tmp",
        f"glue_spark_stream_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(table_path(sf_dir, "events"), link)

    stream = (
        ensure_micros_ts(spark.readStream.schema(raw_schema).parquet(stream_dir))
        .select("user_id", "ts", "event_id", "event_type")
    )
    depths = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_step,
            outputStructType=_FUNNEL_OUTPUT,
            stateStructType=_FUNNEL_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    sink_name = "stream_funnel_stateful_sink"
    q = (
        depths.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(sink_name)


# ---------------------------------------------------------------------------
# E5b: streaming CEP — first-conversion pattern detection
# ---------------------------------------------------------------------------

_CEP_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("conversion_ts", StringType()),
        StructField("n_clicks_between", LongType()),
    ]
)
# automaton state per user: (armed, done, clicks since arming view)
_CEP_STATE_SCHEMA = StructType(
    [
        StructField("armed", LongType()),
        StructField("done", LongType()),
        StructField("clicks", LongType()),
    ]
)


def _first_conversion(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user CEP automaton for the first `view → click* → purchase`
    completion: a view ARMS (and resets the click count), clicks
    accumulate while armed, signup/error DISARM, and the first
    purchase while armed EMITS once and parks the automaton.  State
    survives across batches; no timeout — incomplete patterns simply
    never emit (streaming CEP semantics: results fire on the event
    that completes the match, not at end of stream)."""
    (user_id,) = key
    if state.exists:
        armed, done, clicks = state.get
    else:
        armed = done = clicks = 0

    rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    out = []
    for _, r in rows.iterrows():
        if done:
            break
        et = r["event_type"]
        if et == "view":
            armed, clicks = 1, 0
        elif et == "click":
            if armed:
                clicks += 1
        elif et in ("signup", "error"):
            armed, clicks = 0, 0
        elif et == "purchase" and armed:
            done = 1
            out.append(
                {
                    "user_id": user_id,
                    "conversion_ts": r["ts"].strftime(_FMT),
                    "n_clicks_between": clicks,
                }
            )
    state.update((armed, done, clicks))
    if out:
        yield pd.DataFrame(out)


@query(
    "stream_first_conversion",
    oracle="""
    WITH e AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events
    ), marked AS (
        SELECT user_id, ts, event_id, event_type,
               LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END
                          IGNORE NULLS) OVER w AS v_ts,
               LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END
                          IGNORE NULLS) OVER w AS v_id,
               LAST_VALUE(CASE WHEN event_type IN ('signup', 'error')
                               THEN ts END IGNORE NULLS) OVER w AS block_ts,
               LAST_VALUE(CASE WHEN event_type IN ('signup', 'error')
                               THEN event_id END IGNORE NULLS) OVER w AS block_id
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), qualifying AS (
        -- the automaton runs in (ts, event_id) order, so every
        -- comparison tie-breaks on event_id: a click counts iff it is
        -- strictly after the arming view AND strictly before the
        -- purchase in that total order, and the arm survives iff the
        -- last blocker precedes the last view in that order.
        SELECT m.user_id, m.ts, m.event_id,
               (SELECT COUNT(*) FROM e c
                WHERE c.user_id = m.user_id AND c.event_type = 'click'
                  AND (c.ts > m.v_ts
                       OR (c.ts = m.v_ts AND c.event_id > m.v_id))
                  AND (c.ts < m.ts
                       OR (c.ts = m.ts AND c.event_id < m.event_id))) AS n_clicks
        FROM marked m
        WHERE m.event_type = 'purchase' AND m.v_ts IS NOT NULL
          AND (m.block_ts IS NULL OR m.block_ts < m.v_ts
               OR (m.block_ts = m.v_ts AND m.block_id < m.v_id))
    ), firsts AS (
        SELECT user_id, ts, n_clicks,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM qualifying
    )
    SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS conversion_ts,
           CAST(n_clicks AS BIGINT) AS n_clicks_between
    FROM firsts WHERE rn = 1
    """,
)
def stream_first_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5b: streaming COMPLEX EVENT PROCESSING (the Flink CEP / SQL
    MATCH_RECOGNIZE ONE ROW PER MATCH shape) as arbitrary stateful
    processing: per-user automaton for the first view→click*→purchase
    completion, emitting ON the completing event.  The batch oracle
    re-derives the same matches relationally: a purchase qualifies iff
    a prior view exists with no signup/error after it, the click count
    is the events between that view and the purchase, and only each
    user's first qualifying purchase survives.

    100 TB notes: state is 3 longs per user (never an event buffer),
    keyed shuffle on user_id, emission is append-mode and
    monotone — the combination that keeps state stores bounded and
    output files immutable."""
    apply_engine_conf(spark)
    raw_schema = events_raw_ddl(sf_dir)
    stream_dir = os.path.join(
        "/tmp",
        f"glue_spark_stream_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(table_path(sf_dir, "events"), link)

    stream = (
        ensure_micros_ts(spark.readStream.schema(raw_schema).parquet(stream_dir))
        .select("event_id", "user_id", "ts", "event_type")
    )
    conversions = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _first_conversion,
            outputStructType=_CEP_OUTPUT_SCHEMA,
            stateStructType=_CEP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink_name = "stream_first_conversion_sink"
    q = (
        conversions.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(sink_name)
