"""Structured Streaming operators over the events table (SURVEY.md §7 M3).

The reference's "streaming" is a one-shot file reader with backpressure
(lib/batchProcessing.js:314-317,390) — not an event-time engine. Here the
events table gets real Structured Streaming semantics: watermarks, tumbling /
sliding / session event-time windows, and streaming dedup.

Design: every windowing operator is a plain DataFrame *transformation* that
works identically on a batch frame or a ``readStream`` frame (Spark's unified
API). The registry entries run them as bounded streams via
``trigger(availableNow=True)`` into a memory sink — an honest streaming
execution that terminates, so the driver's harness can compare the result
against a batch SQL oracle.

Output modes: windowed aggregations run in **complete** mode so trailing
windows still inside the watermark are emitted before the bounded stream
stops (append mode would hold them in state forever on a finite input).
Streaming dedup runs in **append** mode (row-level operator).

Scale notes: state size is bounded by the watermark horizon (1 hour here) ×
key cardinality; shuffles are the normal agg exchanges. ``availableNow``
processes a backlog in rate-limited batches — the production pattern for
catch-up + continuous tail.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oe_batch_processing_spark.registry import dsum, query
from oe_batch_processing_spark.session import scratch_dir
from oe_batch_processing_spark.tables import load_table, table_path

WATERMARK = "1 hour"


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (nanos ts -> TimestampType)."""
    batch = load_table(spark, sf_dir, "events")  # only for the file schema
    raw_schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    # the file source needs a directory; select just the events file by glob
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # same ts normalization as tables.load_table (version-dependent read:
    # int64 nanos on <=3.x with the legacy conf, TIMESTAMP_NTZ on 4.1+)
    kind = dict(stream.dtypes).get("ts")
    if kind == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif kind == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    assert stream.schema == batch.schema
    return stream


def run_available_now(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Execute a bounded stream to completion into a memory sink; return the
    result as a batch DataFrame.

    The stream checkpoints into a :func:`~oe_batch_processing_spark.session.scratch_dir`
    (tmpfs when present: the state store writes per-partition delta files
    on every commit), which is removed when the stream ends, failed or
    not. The memory-sink table holds the rows, so the returned frame
    does not read the checkpoint."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    with scratch_dir(f"oebp-ckpt-{name}-") as ckpt:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return stream_df.sparkSession.table(name)


# --- unified transformations (batch or stream) ------------------------------

def tumbling_counts(events: DataFrame) -> DataFrame:
    """10-minute tumbling event-time windows with a 1-hour watermark."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """20-minute windows sliding every 10 minutes."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "20 minutes", "10 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n_events",
        )
    )


def session_stats(events: DataFrame) -> DataFrame:
    """Per-user sessions with a 5-minute inactivity gap."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "5 minutes").alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("sess.start", "yyyy-MM-dd HH:mm:ss").alias("sess_start"),
            "n_events",
        )
    )


def dedup_pairs(events: DataFrame) -> DataFrame:
    """Streaming dedup: first occurrence of each (user_id, event_type)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


# --- registry entries (bounded-stream execution + batch SQL oracles) --------

@query(
    "stream_tumbling_counts",
    oracle="""
    SELECT strftime(make_timestamp(
             CAST(floor(epoch(ts) / 600) * 600 * 1000000 AS BIGINT)),
             '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(
        tumbling_counts(events_stream(spark, sf_dir)), "complete"
    )


@query(
    "stream_sliding_counts",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS bucket FROM events
    ),
    w AS (
      SELECT bucket AS ws FROM b
      UNION ALL
      SELECT bucket - 600 AS ws FROM b
    )
    SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S') AS win_start,
           COUNT(*) AS n_events
    FROM w
    GROUP BY 1
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(sliding_counts(events_stream(spark, sf_dir)), "complete")


@query(
    "stream_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 5 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sess_id
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(session_stats(events_stream(spark, sf_dir)), "complete")


@query(
    "stream_dedup_pairs",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(dedup_pairs(events_stream(spark, sf_dir)), "append")


def click_purchase_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream inner interval join: purchases attributed to a same-user
    click in the preceding 2 hours. Both sides carry watermarks and the join
    condition is time-bounded in BOTH directions, so each side's buffered
    state is evicted once the watermark passes the bound — the canonical
    bounded-state stream-stream join."""
    c = clicks.select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    ).withWatermark("click_ts", WATERMARK)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", WATERMARK)
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 2 HOURS")),
    ).select(
        F.col("c_user").alias("user_id"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_time"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_time"),
        "purchase_value",
    )


@query(
    "stream_click_purchase_join",
    oracle="""
    SELECT c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_time,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
           p.value AS purchase_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join executed as a bounded stream (append mode:
    inner-join matches emit immediately) and differential-checked against the
    equivalent batch self-join."""
    ev = events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    return run_available_now(click_purchase_join(clicks, purchases), "append")


@query(
    "stream_static_enrich",
    oracle="""
    SELECT c_mktsegment, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the streaming fact joins a STATIC dimension
    (no watermark needed on the static side — Spark re-plans it per
    micro-batch, and it broadcasts like any dim join), then aggregates by
    the enriched key. The production shape for "join the stream to the
    customer table".

    Batch/stream unified: the same join+agg on the batch frame is the
    DuckDB-checked oracle.
    """
    from oe_batch_processing_spark.tables import load_table as _lt

    ev = events_stream(spark, sf_dir)
    cust = _lt(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(cust), ev["user_id"] == cust["c_custkey"])
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value")
    )
    return run_available_now(agg, "complete")


def dedup_pairs_within_watermark(events: DataFrame) -> DataFrame:
    """Streaming dedup with BOUNDED state via
    ``dropDuplicatesWithinWatermark``: unlike plain ``dropDuplicates``
    (whose key state grows forever on an unbounded stream), entries are
    evicted once the watermark passes their event time + delay — the
    production form for at-least-once sources whose duplicates arrive
    close together (retries, replays). Within the horizon the result
    equals DISTINCT; a duplicate arriving later than the watermark delay
    may legitimately re-emit, which is the documented contract (state
    can't be infinite), not a defect. Only the key columns are emitted
    so the surviving-row choice can't affect the relation.
    """
    return (
        events.withWatermark("ts", WATERMARK)
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


@query(
    "stream_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(
        dedup_pairs_within_watermark(events_stream(spark, sf_dir)), "append"
    )


def _dyn_sess_oracle() -> str:
    from oe_batch_processing_spark.operators.relational5 import DYN_SESS_ORACLE

    return DYN_SESS_ORACLE


@query("stream_session_window_dynamic_gap", oracle=_dyn_sess_oracle())
def stream_session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_session_window_dynamic_gap``: the SAME
    ``dynamic_gap_sessions`` transformation (session_window with a
    per-event CalendarInterval gap) over the bounded event stream with a
    watermark, availableNow + complete mode — and the SAME batch SQL
    oracle, the strongest batch/stream-parity statement available for a
    dynamic-gap session operator. State at scale: one session struct per
    open (user, session); the watermark evicts sessions whose merged end
    falls behind it, so state is bounded by ACTIVE users, not history.
    """
    from oe_batch_processing_spark.operators.relational5 import (
        dynamic_gap_sessions,
    )

    ev = events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    return run_available_now(dynamic_gap_sessions(ev), "complete")
