"""Time-window operators + Structured Streaming surface
(SURVEY.md §2-E).

The reference has zero streaming (no watermark/window/state code in
``src/``); these are the north-star extension.  E1–E3 use Spark's
window functions on a batch DataFrame — ``F.window`` /
``F.session_window`` produce identical results on batch and stream,
which is what makes them oracle-checkable.  E4 runs a *real*
Structured Streaming query (file source → watermark → tumbling agg →
memory sink, ``availableNow`` trigger) so the streaming execution path
itself is exercised in the correctness gate: in a single availableNow
run the watermark never advances past the data, so the result equals
the batch tumbling aggregation and shares its oracle.

Scale notes: streaming aggs keyed by (window, event_type) shuffle on
the group key exactly like batch; the watermark bounds state size —
with a 10-minute watermark and 1-hour windows, at most two windows of
state per key are live at any moment regardless of input volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_catalogprovider_glue_spark.functions import dsum, sql_dsum
from datafusion_catalogprovider_glue_spark.operators.registry import query
from datafusion_catalogprovider_glue_spark.session import apply_engine_conf
from datafusion_catalogprovider_glue_spark.tables import (
    ensure_micros_ts,
    events_raw_ddl,
    load_table,
    table_path,
)

_FMT = "yyyy-MM-dd HH:mm:ss"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_engine_conf(spark)
    return load_table(spark, sf_dir, "events")


def _win_str(col: str):
    return F.date_format(col, _FMT)


@query(
    "window_tumbling",
    oracle=f"""
    SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value', 4)} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: 1-hour tumbling windows per event_type."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), 4, 8).alias("sum_value"))
        .select(
            _win_str("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "window_sliding",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
                    - TO_MINUTES(o.off), '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events
    FROM events, (SELECT UNNEST([0, 15, 30, 45]) AS off) o
    GROUP BY 1
    """,
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: 1-hour windows sliding every 15 minutes — each event lands
    in 4 overlapping windows (the oracle reproduces that by exploding
    the 4 alignment offsets)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(_win_str("w.start").alias("window_start"), "n_events")
    )


@query(
    "window_session",
    oracle="""
    WITH marked AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN CAST(ts AS TIMESTAMP)
                         - LAG(CAST(ts AS TIMESTAMP)) OVER w > INTERVAL '30 minutes'
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: per-user session windows with a 30-minute inactivity gap.
    Spark's session_window end = last event + gap; the oracle
    reproduces the gap semantics with lag/cumsum sessionization."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            _win_str("w.start").alias("session_start"),
            _win_str("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "stream_tumbling_watermark",
    oracle=f"""
    SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value', 4)} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: REAL Structured Streaming — parquet file source →
    10-minute watermark → 1-hour tumbling agg → memory sink, drained
    with an availableNow trigger.  One-shot availableNow processes all
    input in order, so no rows are late and the result equals E1's
    batch aggregation (same oracle) — while still executing the
    streaming state-store path end-to-end."""
    apply_engine_conf(spark)
    raw_schema = events_raw_ddl(sf_dir)
    # The file-stream source requires a *directory* to monitor; the
    # events table is a single parquet file (read-only), so stage a
    # directory of symlinks next to it in /tmp (idempotent per sf).
    import hashlib as _hashlib
    import os as _os

    stream_dir = _os.path.join(
        "/tmp",
        f"glue_spark_stream_{_hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    _os.makedirs(stream_dir, exist_ok=True)
    link = _os.path.join(stream_dir, "events.parquet")
    if not _os.path.exists(link):
        _os.symlink(table_path(sf_dir, "events"), link)

    stream = (
        ensure_micros_ts(spark.readStream.schema(raw_schema).parquet(stream_dir))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), 4, 8).alias("sum_value"))
        .select(
            _win_str("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    sink_name = "stream_tumbling_watermark_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(sink_name)


@query(
    "stream_session_watermark",
    oracle="""
    WITH marked AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN CAST(ts AS TIMESTAMP)
                         - LAG(CAST(ts AS TIMESTAMP)) OVER w > INTERVAL '30 minutes'
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
)
def stream_session_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 on the REAL streaming path: file source → watermark →
    ``session_window`` gap aggregation → memory sink (complete mode,
    availableNow).  Complete output emits every session at drain time,
    so the one-shot result equals the batch sessionization and shares
    its oracle — while exercising the streaming session-state merge
    path (gap-window state unions, not fixed windows)."""
    apply_engine_conf(spark)
    raw_schema = events_raw_ddl(sf_dir)
    import hashlib as _hashlib
    import os as _os

    stream_dir = _os.path.join(
        "/tmp",
        f"glue_spark_stream_{_hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    _os.makedirs(stream_dir, exist_ok=True)
    link = _os.path.join(stream_dir, "events.parquet")
    if not _os.path.exists(link):
        _os.symlink(table_path(sf_dir, "events"), link)

    stream = (
        ensure_micros_ts(spark.readStream.schema(raw_schema).parquet(stream_dir))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            _win_str("w.start").alias("session_start"),
            _win_str("w.end").alias("session_end"),
            "n_events",
        )
    )
    sink_name = "stream_session_watermark_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(sink_name)


@query(
    "stream_static_join",
    oracle=f"""
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n_events,
           {sql_dsum('e.value', 4)} AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: stream-static enrichment join — the standard streaming
    pattern of decorating an event stream with a slowly-changing
    dimension.  The static side (customer) is a batch DataFrame
    broadcast into every micro-batch; the stream side never shuffles
    before the join.  Aggregated per (segment, event_type) in complete
    mode (no watermark needed: complete mode re-emits full state, and
    the availableNow one-shot drain makes the result equal the batch
    join — same oracle).  At 100 TB/day the same topology holds: the
    dimension refreshes per micro-batch, the stream stays partition-
    local until the post-join aggregation."""
    apply_engine_conf(spark)
    raw_schema = events_raw_ddl(sf_dir)
    import hashlib as _hashlib
    import os as _os

    stream_dir = _os.path.join(
        "/tmp",
        f"glue_spark_stream_{_hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    _os.makedirs(stream_dir, exist_ok=True)
    link = _os.path.join(stream_dir, "events.parquet")
    if not _os.path.exists(link):
        _os.symlink(table_path(sf_dir, "events"), link)

    stream = ensure_micros_ts(spark.readStream.schema(raw_schema).parquet(stream_dir))
    customer = F.broadcast(load_table(spark, sf_dir, "customer"))
    agg = (
        stream.join(customer, stream.user_id == customer.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 4, 8).alias("sum_value"),
        )
    )
    sink_name = "stream_static_join_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(sink_name)


@query(
    "stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_distinct_users
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7: streaming deduplication — ``dropDuplicates`` on
    (user_id, event_type) runs through the streaming dedup state store
    (one state row per distinct key), then a grouped count per type.
    In the one-shot availableNow drain the result equals the batch
    DISTINCT (the oracle).  At 100 TB/day the unbounded-state risk is
    real: production would use dropDuplicatesWithinWatermark so state
    expires with event time — noted here, the bounded key domain
    (users × 5 types) keeps exact dedup cheap."""
    apply_engine_conf(spark)
    raw_schema = events_raw_ddl(sf_dir)
    import hashlib as _hashlib
    import os as _os

    stream_dir = _os.path.join(
        "/tmp",
        f"glue_spark_stream_{_hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    _os.makedirs(stream_dir, exist_ok=True)
    link = _os.path.join(stream_dir, "events.parquet")
    if not _os.path.exists(link):
        _os.symlink(table_path(sf_dir, "events"), link)

    stream = ensure_micros_ts(spark.readStream.schema(raw_schema).parquet(stream_dir))
    agg = (
        stream.select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_distinct_users"))
    )
    sink_name = "stream_dedup_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(sink_name)


@query(
    "stream_sliding_watermark",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
                    - TO_MINUTES(o.off), '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           {sql_dsum('value', 4)} AS sum_value
    FROM events, (SELECT UNNEST([0, 15, 30, 45]) AS off) o
    GROUP BY 1
    """,
)
def stream_sliding_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-family: REAL streaming sliding windows — file source →
    10-minute watermark → 1-hour windows sliding every 15 minutes →
    memory sink, availableNow drain.  Each event updates 4 overlapping
    window states; the watermark bounds how long each stays open, so
    state is O(active windows), not O(stream).  One-shot drain equals
    the batch sliding aggregation (E2's oracle, widened with the exact
    decimal sum).  At 100 TB-scale streams the state store shards by
    (window, key) across executors — overlapping windows multiply
    state size by window/slide (4× here), which is the capacity knob
    to watch."""
    apply_engine_conf(spark)
    import hashlib as _hashlib
    import os as _os

    raw_schema = events_raw_ddl(sf_dir)
    stream_dir = _os.path.join(
        "/tmp",
        f"glue_spark_stream_{_hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    _os.makedirs(stream_dir, exist_ok=True)
    link = _os.path.join(stream_dir, "events.parquet")
    if not _os.path.exists(link):
        _os.symlink(table_path(sf_dir, "events"), link)

    stream = (
        ensure_micros_ts(spark.readStream.schema(raw_schema).parquet(stream_dir))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 4, 8).alias("sum_value"),
        )
        .select(_win_str("w.start").alias("window_start"), "n_events", "sum_value")
    )
    sink_name = "stream_sliding_watermark_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(sink_name)


def keep_latest_per_user(df: DataFrame) -> DataFrame:
    """One row per user_id: latest by (ts, event_id) — the reduce used
    on both sides of the streaming upsert merge."""
    from pyspark.sql import Window as _W

    w = _W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


def make_upsert_merger(state_dir: str, cols: list[str]):
    """Build the foreachBatch callback for a keyed-upsert parquet sink.

    Each call reduces the batch to one row per key, merges with the
    current state (union -> keep-latest), writes a new version, and
    atomically repoints ``current`` via rename.  Factored out so tests
    can drive a multi-batch sequence directly."""
    import os as _os
    import shutil as _shutil

    def _merge(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        incoming = keep_latest_per_user(batch.select(*cols))
        current = _os.path.join(state_dir, "current")
        if _os.path.exists(current):
            merged = keep_latest_per_user(s.read.parquet(current).unionByName(incoming))
        else:
            merged = incoming
        staged = _os.path.join(state_dir, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(staged)
        # atomic repoint: rename is the poor man's transaction on a
        # local FS; Delta/Iceberg MERGE is the production swap
        tmp_old = current + ".old"
        if _os.path.exists(current):
            _os.rename(current, tmp_old)
        _os.rename(staged, current)
        if _os.path.exists(tmp_old):
            _shutil.rmtree(tmp_old)

    return _merge


@query(
    "stream_upsert_sink",
    oracle="""
    SELECT user_id, event_id,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts,
           event_type
    FROM (
        SELECT user_id, event_id, ts, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
)
def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT through ``foreachBatch`` — the sink-side
    pattern Structured Streaming leaves to the user: each micro-batch
    is reduced to its latest row per key, merged with the current
    state table (union → window rank → keep-1), and atomically swapped
    in (write to a new versioned directory, then repoint).  The final
    state equals batch keep-latest-per-key (same oracle as
    dedup_keep_latest).  At 100 TB the swap target is a format with
    real MERGE (Delta/Iceberg) or a partitioned overwrite limited to
    touched key ranges; the batch-local reduce stays as-is — it shrinks
    each merge to one row per touched key, which is what keeps
    per-batch cost O(batch + touched keys), not O(state)."""
    apply_engine_conf(spark)
    import hashlib as _hashlib
    import os as _os
    import shutil as _shutil

    raw_schema = events_raw_ddl(sf_dir)
    base = _os.path.join(
        "/tmp",
        f"glue_spark_upsert_{_hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    stream_dir = _os.path.join(base, "in")
    state_dir = _os.path.join(base, "state")
    if _os.path.exists(base):
        _shutil.rmtree(base)  # fresh run: the sink is the thing under test
    _os.makedirs(stream_dir)
    link = _os.path.join(stream_dir, "events.parquet")
    _os.symlink(table_path(sf_dir, "events"), link)

    _merge = make_upsert_merger(state_dir, ["user_id", "event_id", "ts", "event_type"])

    stream = (
        ensure_micros_ts(
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(stream_dir)
        )
    )
    q = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(_os.path.join(state_dir, "current")).select(
        "user_id", "event_id", _win_str("ts").alias("ts"), "event_type"
    )


@query(
    "stream_sliding_topk",
    oracle="""
    WITH counts AS (
        SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, CAST(rk AS INT) AS rank
    FROM (
        SELECT window_start, event_type, n_events,
               ROW_NUMBER() OVER (PARTITION BY window_start
                                  ORDER BY n_events DESC, event_type) AS rk
        FROM counts
    ) WHERE rk <= 3
    """,
)
def stream_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: top-3 event types per hourly window.  The
    production shape for "trending now" dashboards — the STREAM
    maintains only the windowed counts (per-key state the state store
    bounds via the watermark); the RANKING runs on the drained,
    window-sized result, because rank-over-update-stream is not
    incrementally maintainable in complete generality and the count
    table is already tiny (|windows| x |types|).  One-shot availableNow
    drains everything, so the result equals the batch top-k and the
    oracle verifies both the streaming count path and the rank
    post-pass.  Ties break on event_type — deterministic in both
    engines since counts are exact integers."""
    apply_engine_conf(spark)
    raw_schema = events_raw_ddl(sf_dir)
    import hashlib as _hashlib
    import os as _os

    stream_dir = _os.path.join(
        "/tmp",
        f"glue_spark_stream_{_hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    _os.makedirs(stream_dir, exist_ok=True)
    link = _os.path.join(stream_dir, "events.parquet")
    if not _os.path.exists(link):
        _os.symlink(table_path(sf_dir, "events"), link)

    stream = ensure_micros_ts(
        spark.readStream.schema(raw_schema).parquet(stream_dir)
    )
    counts = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            _win_str("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    sink_name = "stream_sliding_topk_sink"
    q = (
        counts.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    from pyspark.sql.window import Window as W

    rk = F.row_number().over(
        W.partitionBy("window_start").orderBy(
            F.col("n_events").desc(), F.col("event_type")
        )
    )
    return (
        spark.table(sink_name)
        .withColumn("rank", rk)
        .filter(F.col("rank") <= 3)
        .select("window_start", "event_type", "n_events", F.col("rank").cast("int"))
    )


@query(
    "stream_upsert_delta",
    oracle="""
    SELECT user_id, event_id,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts,
           event_type
    FROM (
        SELECT user_id, event_id, ts, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
)
def stream_upsert_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert landing in a REAL table format: ``foreachBatch``
    → ``merge_delta`` (sources/delta_writer.py) — the production swap
    stream_upsert_sink's parquet-swap docstring names, now wired.  Each
    micro-batch reduces to its latest row per user (one row per touched
    key — per-batch cost O(batch), not O(state)), then MERGEs into the
    Delta table with a CONDITIONAL update (``s.ts > t.ts``, event_id
    tie-break), so the final state is keep-latest-per-key regardless of
    micro-batch arrival order — the order-independence a replayed /
    reshuffled stream needs.  Three chunked source files force a real
    multi-batch drain; each batch commits exactly one Delta version
    (asserted in-key), and the returned DataFrame replays the final
    snapshot through the engine's own Delta reader, hash-matched
    against the batch keep-latest oracle."""
    apply_engine_conf(spark)
    import hashlib as _hashlib
    import os as _os
    import shutil as _shutil

    from pyspark.sql.window import Window as _Window

    from datafusion_catalogprovider_glue_spark.sources.delta import (
        DeltaSnapshot,
        read_delta,
    )
    from datafusion_catalogprovider_glue_spark.sources.delta_writer import (
        append_delta,
        merge_delta,
    )

    base = _os.path.join(
        "/tmp",
        f"glue_spark_upsdelta_{_hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    stream_dir = _os.path.join(base, "in")
    table_dir = _os.path.join(base, "delta")
    if _os.path.exists(base):
        _shutil.rmtree(base)  # fresh run: the sink is the thing under test
    _os.makedirs(stream_dir)
    # three source chunks -> three micro-batches (maxFilesPerTrigger=1)
    events = load_table(spark, sf_dir, "events")
    for i in range(3):
        staging = _os.path.join(base, f"_chunk{i}")
        events.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            staging
        )
        part = next(
            _os.path.join(r, f)
            for r, _d, fs in _os.walk(staging)
            for f in fs
            if f.endswith(".parquet")
        )
        _os.replace(part, _os.path.join(stream_dir, f"chunk-{i}.parquet"))
        _shutil.rmtree(staging)

    cols = ["user_id", "event_id", "ts", "event_type"]
    w = _Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    newer = (F.col("s.ts") > F.col("t.ts")) | (
        (F.col("s.ts") == F.col("t.ts"))
        & (F.col("s.event_id") > F.col("t.event_id"))
    )

    # exactly-once across restarts: each batch commits the spec's txn
    # action (appId, batchId); a batch re-delivered after a crash
    # between the Delta commit and the streaming checkpoint is SKIPPED
    # instead of double-applied — Delta's own streaming sink contract
    # (PROTOCOL.md §Transaction Identifiers), restart-pinned in
    # tests/test_streaming.py
    app_id = "stream_upsert_delta"

    def _merge(batch_df, batch_id):
        if _os.path.exists(_os.path.join(table_dir, "_delta_log")):
            if batch_id <= DeltaSnapshot(table_dir).txns.get(app_id, -1):
                return  # already committed before a restart
        latest = (
            batch_df.select(*cols)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if not _os.path.exists(_os.path.join(table_dir, "_delta_log")):
            append_delta(latest, table_dir, n_files=2,
                         txn=(app_id, batch_id))
        else:
            merge_delta(
                spark, table_dir, latest, on=["user_id"],
                matched_update=newer, txn=(app_id, batch_id),
            )

    # the chunks hold the rebuilt µs ts: stream them back with the
    # schema they were written with, not the raw file's
    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(stream_dir)
    q = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # one Delta commit per micro-batch: create (v0) + two merges
    snap = DeltaSnapshot(table_dir)
    assert snap.version == 2, f"expected 3 commits, at v{snap.version}"
    return read_delta(spark, table_dir).select(
        "user_id", "event_id", _win_str("ts").alias("ts"), "event_type"
    )


@query(
    "stream_upsert_iceberg",
    oracle="""
    SELECT user_id, event_id,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts,
           event_type
    FROM (
        SELECT user_id, event_id, ts, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
)
def stream_upsert_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert landing in ICEBERG — sink symmetry with
    stream_upsert_delta (r6 verdict item 8): ``foreachBatch`` →
    ``merge_iceberg`` with the same conditional-update predicate
    (``s.ts > t.ts``, event_id tie-break), so keep-latest-per-key
    holds regardless of micro-batch arrival order.  Three chunked
    source files force a real multi-batch drain; batch 0 creates the
    table (append snapshot), batches 1-2 each commit exactly ONE
    REPLACE snapshot (asserted in-key: sequence-number == 3 and one
    snapshot per batch in the snapshot-log), and the returned
    DataFrame replays the final snapshot through the engine's own
    Iceberg reader."""
    apply_engine_conf(spark)
    import hashlib as _hashlib
    import json as _json
    import os as _os
    import shutil as _shutil

    from pyspark.sql.window import Window as _Window

    from datafusion_catalogprovider_glue_spark.errors import SparkError
    from datafusion_catalogprovider_glue_spark.sources.iceberg import (
        read_iceberg,
    )
    from datafusion_catalogprovider_glue_spark.sources.iceberg_writer import (
        append_iceberg,
        merge_iceberg,
    )

    base = _os.path.join(
        "/tmp",
        f"glue_spark_upsice_{_hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    stream_dir = _os.path.join(base, "in")
    table_dir = _os.path.join(base, "iceberg")
    if _os.path.exists(base):
        _shutil.rmtree(base)  # fresh run: the sink is the thing under test
    _os.makedirs(stream_dir)
    events = load_table(spark, sf_dir, "events")
    for i in range(3):
        staging = _os.path.join(base, f"_chunk{i}")
        events.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            staging
        )
        part = next(
            _os.path.join(r, f)
            for r, _d, fs in _os.walk(staging)
            for f in fs
            if f.endswith(".parquet")
        )
        _os.replace(part, _os.path.join(stream_dir, f"chunk-{i}.parquet"))
        _shutil.rmtree(staging)

    cols = ["user_id", "event_id", "ts", "event_type"]
    w = _Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    newer = (F.col("s.ts") > F.col("t.ts")) | (
        (F.col("s.ts") == F.col("t.ts"))
        & (F.col("s.event_id") > F.col("t.event_id"))
    )

    # exactly-once across restarts: the batch id rides in the snapshot
    # summary (Iceberg's own streaming sink records its epoch id the
    # same way); a batch re-delivered after a crash between the
    # Iceberg commit and the streaming checkpoint is SKIPPED
    from datafusion_catalogprovider_glue_spark.sources.iceberg_writer import (
        iceberg_max_summary_int,
    )

    _BATCH_KEY = "streaming-batch-id"

    def _merge(batch_df, batch_id):
        exists = _os.path.exists(
            _os.path.join(table_dir, "metadata", "version-hint.text")
        )
        if exists:
            last = iceberg_max_summary_int(table_dir, _BATCH_KEY)
            if last is not None and batch_id <= last:
                return  # already committed before a restart
        latest = (
            batch_df.select(*cols)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        extra = {_BATCH_KEY: str(batch_id)}
        if not exists:
            append_iceberg(
                latest, table_dir, n_files=2, summary_extra=extra
            )
        else:
            merge_iceberg(
                spark, table_dir, latest, on=["user_id"],
                matched_update=newer, summary_extra=extra,
            )

    # the chunks hold the rebuilt µs ts: stream them back with the
    # schema they were written with, not the raw file's
    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(stream_dir)
    q = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # one Iceberg snapshot per micro-batch: append + two REPLACE merges
    with open(
        _os.path.join(table_dir, "metadata", "version-hint.text")
    ) as fh:
        v = int(fh.read().strip())
    with open(
        _os.path.join(table_dir, "metadata", f"v{v}.metadata.json")
    ) as fh:
        meta = _json.load(fh)
    if meta["last-sequence-number"] != 3 or len(meta["snapshots"]) != 3:
        raise SparkError(
            f"expected 3 snapshots (1 append + 2 merges), got "
            f"seq={meta['last-sequence-number']} "
            f"n={len(meta['snapshots'])}"
        )
    return read_iceberg(spark, table_dir).select(
        "user_id", "event_id", _win_str("ts").alias("ts"), "event_type"
    )


@query(
    "stream_upsert_hudi",
    oracle="""
    SELECT user_id, event_id,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts,
           event_type
    FROM (
        SELECT user_id, event_id, ts, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
)
def stream_upsert_hudi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert landing in HUDI MERGE-ON-READ — completes the
    foreachBatch sink trio (stream_upsert_delta / _iceberg): each
    micro-batch reduces to latest-per-key, anti-filters against the
    CURRENT snapshot with the same merge-if-newer predicate (Hudi's
    log-replay merge is latest-INSTANT-wins, so order independence
    must come from the writer — exactly Hudi's preCombine field
    semantics), then lands as ONE routed log DELTACOMMIT
    (upsert_hudi_log — base files never rewrite mid-stream).  A final
    compaction folds the logs; asserted in-key: one deltacommit per
    upserting batch, snapshot == read-optimized after compaction, and
    the returned DataFrame replays the table through the engine's own
    MoR reader."""
    apply_engine_conf(spark)
    import hashlib as _hashlib
    import os as _os
    import shutil as _shutil

    from pyspark.sql.window import Window as _Window

    from datafusion_catalogprovider_glue_spark.errors import SparkError
    from datafusion_catalogprovider_glue_spark.sources.hudi import (
        hudi_mor_instants,
        read_hudi_mor,
    )
    from datafusion_catalogprovider_glue_spark.sources.hudi_writer import (
        append_hudi,
        compact_hudi,
        upsert_hudi_log,
    )

    base = _os.path.join(
        "/tmp",
        f"glue_spark_upshudi_{_hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    stream_dir = _os.path.join(base, "in")
    table_dir = _os.path.join(base, "hudi")
    if _os.path.exists(base):
        _shutil.rmtree(base)  # fresh run: the sink is the thing under test
    _os.makedirs(stream_dir)
    events = load_table(spark, sf_dir, "events")
    for i in range(3):
        staging = _os.path.join(base, f"_chunk{i}")
        events.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            staging
        )
        part = next(
            _os.path.join(r, f)
            for r, _d, fs in _os.walk(staging)
            for f in fs
            if f.endswith(".parquet")
        )
        _os.replace(part, _os.path.join(stream_dir, f"chunk-{i}.parquet"))
        _shutil.rmtree(staging)

    cols = ["user_id", "event_id", "ts", "event_type"]
    w = _Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    # exactly-once across restarts: the batch id rides in the commit's
    # extraMetadata (Hudi's DeltaStreamer-checkpoint pattern); a batch
    # re-delivered after a crash between the Hudi commit and the
    # streaming checkpoint is SKIPPED
    from datafusion_catalogprovider_glue_spark.sources.hudi import (
        hudi_max_extra_int,
    )

    _BATCH_KEY = "streamingBatchId"

    def _merge(batch_df, batch_id):
        exists = _os.path.exists(_os.path.join(table_dir, ".hoodie"))
        if exists:
            last = hudi_max_extra_int(table_dir, _BATCH_KEY)
            if last is not None and batch_id <= last:
                return  # already committed before a restart
        extra = {_BATCH_KEY: str(batch_id)}
        latest = (
            batch_df.select(*cols)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if not exists:
            append_hudi(latest, table_dir, n_groups=2,
                        extra_metadata=extra)
            return
        cur = read_hudi_mor(spark, table_dir, key_col="user_id").select(
            F.col("user_id"),
            F.col("ts").alias("_t_ts"),
            F.col("event_id").alias("_t_eid"),
        )
        newer = latest.join(cur, "user_id", "left").filter(
            F.col("_t_ts").isNull()
            | (F.col("ts") > F.col("_t_ts"))
            | (
                (F.col("ts") == F.col("_t_ts"))
                & (F.col("event_id") > F.col("_t_eid"))
            )
        ).select(*cols)
        if newer.limit(1).count():
            upsert_hudi_log(spark, newer, table_dir, key="user_id",
                            extra_metadata=extra)

    # the chunks hold the rebuilt µs ts: stream them back with the
    # schema they were written with, not the raw file's
    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(stream_dir)
    q = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    instants = hudi_mor_instants(table_dir)
    n_delta = sum(1 for _t, a in instants if a == "deltacommit")
    if not (1 <= n_delta <= 2):
        raise SparkError(
            f"expected 1-2 log deltacommits (one per upserting batch), "
            f"got {n_delta}: {instants}"
        )
    compact_hudi(spark, table_dir, key="user_id")
    snap = read_hudi_mor(spark, table_dir, key_col="user_id")
    ro = read_hudi_mor(spark, table_dir, key_col="user_id", read_optimized=True)
    if snap.count() != ro.count():
        raise SparkError("post-compaction snapshot != read-optimized")
    return snap.select(
        "user_id", "event_id", _win_str("ts").alias("ts"), "event_type"
    )
