"""Stream-stream interval join (Structured Streaming extension;
SURVEY.md §2-E — the reference has zero streaming, see SURVEY §2-E
preamble; this completes the streaming surface with the one stateful
shape the other E-keys don't cover: state on BOTH sides of a join).

Spark buffers both inputs in the state store and emits a pair the
moment both halves have arrived; the event-time range condition plus
the two watermarks are what let it EVICT state (a view older than
watermark - 30 min can never match a future click, and vice versa).
Without the range bound the state grows without limit — that, not
correctness, is why production stream-stream joins must be
interval-bounded.  In the one-shot availableNow drain the emitted
pair set equals the batch interval self-join, which is the oracle.

At 100 TB/day: both sides shuffle on user_id once (co-partitioned by
the join key), per-key state is bounded by the 30-minute window ×
per-user rate, and watermark eviction keeps total state at
O(active users × window) regardless of stream length.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_catalogprovider_glue_spark.operators.registry import query
from datafusion_catalogprovider_glue_spark.session import apply_engine_conf
from datafusion_catalogprovider_glue_spark.tables import (
    ensure_micros_ts,
    events_raw_ddl,
    table_path,
)


def _staged_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source event stream with a µs TimestampType ``ts`` (the
    same /tmp symlink staging the other streaming keys use — the file
    source needs a directory, the events table is one parquet file)."""
    stream_dir = os.path.join(
        "/tmp",
        f"glue_spark_stream_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(table_path(sf_dir, "events"), link)
    raw = spark.readStream.schema(events_raw_ddl(sf_dir)).parquet(stream_dir)
    return ensure_micros_ts(raw)


@query(
    "stream_stream_join",
    oracle="""
    SELECT v.user_id AS user_id,
           v.event_id AS view_id,
           c.event_id AS click_id,
           v.ts AS view_ts,
           c.ts AS click_ts
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10: view→click attribution as a watermarked stream-stream
    interval join — every (view, click) pair on the same user where
    the click lands within 30 minutes of the view.

    Both sides carry a 10-minute watermark and the join condition
    bounds event-time distance in both directions, so Spark can bound
    and evict join state.  Inner interval joins emit pairs exactly
    once as matches arrive; the availableNow drain therefore equals
    the batch self-join (the oracle).
    """
    apply_engine_conf(spark)
    stream = _staged_events_stream(spark, sf_dir)

    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    pairs = views.join(
        clicks,
        (F.col("v_user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select(
        F.col("v_user_id").alias("user_id"),
        "view_id",
        "click_id",
        "view_ts",
        "click_ts",
    )

    sink_name = "stream_stream_join_sink"
    q = (
        pairs.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(sink_name)
