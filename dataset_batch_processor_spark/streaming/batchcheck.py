"""Driver-gated streaming query: Structured Streaming vs SQL oracle.

This module puts streaming operators under the DRIVER's DuckDB hash
gate against their batch equivalents. Each query is one stateful
transform run by :func:`_run_stream` as a real Structured Streaming
job — file source, operator state, memory sink — to completion with
the availableNow trigger (process-everything-then-stop, the
batch-parity execution Spark provides for exactly this purpose); the
sink's rows come back as the result DataFrame.

What this proves that the batch queries don't: the incremental
execution path (MicroBatchExecution, streaming aggregation state
store, sink commit protocol) produces byte-identical aggregates to a
single-pass batch plan over the same files. At scale the same
topology is the backfill-then-tail pattern: availableNow over the
backlog, continuous trigger for the tail; decimal-exact sums make
the answer invariant to how the input got micro-batched.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.matcache import (
    read_parquet, scratch_dir, staged_once,
)
from dataset_batch_processor_spark.streaming.fixtures import DRAIN_PARTITIONS


def _stage_file_once(spark: SparkSession, sf_dir: str, table: str) -> str:
    """The file stream source wants a DIRECTORY it can monitor; the
    fixture is a single read-only file, so stage a copy once per
    (session, table, dataset) — at deployment the input would already
    be a landing directory. (Per-run mkdtemp copies before round 15.)"""

    def write(path: str) -> None:
        os.makedirs(path, exist_ok=True)
        shutil.copy(f"{sf_dir}/{table}.parquet", f"{path}/{table}.parquet")

    return staged_once(spark, f"srcdir_{table}", sf_dir, write)


def _run_stream(
    spark: SparkSession, sf_dir: str, table: str,
    query: Callable[[DataFrame], DataFrame], mode: str = "complete",
) -> DataFrame:
    """Run ``query`` over fixture ``table`` as an availableNow stream
    into a memory sink and return the sink's rows as a scratch-parquet
    scan.

    The source is the staged table with its schema (inferred once per
    session, ``matcache.read_parquet``) and ``ts`` normalized like the
    batch loader's (``catalog.normalize_event_ts``). Stateful
    operators allocate one state-store instance per shuffle partition
    per operator, and AQE cannot coalesce them, so shuffles run at the
    drain's :data:`~.fixtures.DRAIN_PARTITIONS`: at the session
    default of 32 the stream-stream join took about twice as long.
    The sink's rows are copied to scratch and its view dropped before
    returning, so no relation outlives the query."""
    stage = _stage_file_once(spark, sf_dir, table)
    schema = read_parquet(spark, f"{sf_dir}/{table}.parquet").schema
    name = f"stream_{table}_{uuid.uuid4().hex}"
    out = os.path.join(scratch_dir(f"dbp_stream_{table}_"), "result")
    try:
        with catalog.shuffle_partitions(spark, DRAIN_PARTITIONS):
            src = catalog.normalize_event_ts(
                spark.readStream.schema(schema).parquet(stage)
            )
            q = (
                query(src).writeStream.outputMode(mode)
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        sink = spark.table(name)
        sink.write.parquet(out)
    finally:
        spark.catalog.dropTempView(name)
    return spark.read.schema(sink.schema).parquet(out)


def streaming_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders.parquet through a real streaming aggregation."""

    def query(src: DataFrame) -> DataFrame:
        return src.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
            .cast("double")
            .alias("total_price"),
        )

    return _run_stream(spark, sf_dir, "orders", query).orderBy(
        "o_orderpriority"
    )


STREAM_COUNTS_DUCK = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
           AS total_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def streaming_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet through a streaming event-time tumbling window.

    Unlike streaming_priority_counts (plain keyed agg), this exercises
    the event-TIME path: the nanosecond timestamps are floored to
    micros in-stream (same transform as catalog.load_events), then
    window()-bucketed — the state layout a watermarked production
    stream uses. availableNow + complete mode makes the result
    batch-identical, which the DuckDB hash gate then proves against
    relational.EVENTS_HOURLY_SQL semantics."""

    def query(src: DataFrame) -> DataFrame:
        return (
            src.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(25,6)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "hour"
                ),
                "event_type",
                "n_events",
                "sum_value",
            )
        )

    return _run_stream(spark, sf_dir, "events", query).orderBy(
        "hour", "event_type"
    )


STREAM_HOURLY_DUCK = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY hour, event_type
"""


QUERIES = {
    "orders_stream_counts": streaming_priority_counts,
    "events_stream_hourly": streaming_hourly_events,
}
ORACLES = {
    "orders_stream_counts": STREAM_COUNTS_DUCK,
    "events_stream_hourly": STREAM_HOURLY_DUCK,
}


def streaming_dedup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates + keyed agg under the hash gate.

    dropDuplicates on (user_id, event_type) exercises the streaming
    DEDUPLICATION state store (a different operator than the agg
    state the other two queries cover); the downstream count per
    event_type must then equal batch count(DISTINCT user_id). A
    production deployment bounds the dedup state with
    dropDuplicatesWithinWatermark; availableNow over a finite
    backlog is the unbounded-state batch-parity case."""

    def query(src: DataFrame) -> DataFrame:
        return (
            src.select("user_id", "event_type")
            .dropDuplicates(["user_id", "event_type"])
            .groupBy("event_type")
            .agg(F.count("*").alias("n_users"))
        )

    return _run_stream(spark, sf_dir, "events", query).orderBy("event_type")


STREAM_DEDUP_DUCK = """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["events_stream_dedup"] = streaming_dedup_users
ORACLES["events_stream_dedup"] = STREAM_DEDUP_DUCK


def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join under the hash gate: clicks joined
    to same-user purchases within the following hour.

    This exercises the symmetric-hash-join state store — a third
    stateful operator class beyond aggregation (events_stream_hourly)
    and deduplication (events_stream_dedup). Both sides carry
    watermarks and the join carries an event-time range condition, so
    on a live stream the state is bounded and inner matches emit
    immediately (append mode); availableNow over the finite backlog
    is the batch-parity case. The per-pair rows land in the memory
    sink; the returned per-user pair counts are batch post-processing
    of the sink's rows, so the hash gate pins the JOIN's exact output
    multiset against DuckDB's interval self-join."""

    def side(src: DataFrame, event_type: str, uid: str, ts: str) -> DataFrame:
        return (
            src.filter(F.col("event_type") == event_type)
            .select(F.col("user_id").alias(uid), F.col("ts").alias(ts))
            .withWatermark(ts, "1 hour")
        )

    def query(src: DataFrame) -> DataFrame:
        return side(src, "click", "user_id", "click_ts").join(
            side(src, "purchase", "p_user", "p_ts"),
            F.expr(
                "user_id = p_user AND p_ts > click_ts "
                "AND p_ts <= click_ts + INTERVAL 1 HOUR"
            ),
        )

    pairs = _run_stream(spark, sf_dir, "events", query, mode="append")
    return (
        pairs.groupBy("user_id")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("user_id")
    )


STREAM_SSJ_DUCK = """
SELECT c.user_id, count(*) AS n_pairs
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
GROUP BY c.user_id
ORDER BY c.user_id
"""

QUERIES["events_stream_join_pairs"] = streaming_click_purchase_join
ORACLES["events_stream_join_pairs"] = STREAM_SSJ_DUCK


# ----------------------------------------------- session windows
# The remaining stateful-aggregation class: gap-based SESSION windows
# (F.session_window), where state merges adjacent windows as events
# arrive — the streaming form of sessionization (the batch form is
# events.events_sessionize). Boundary convention: session_window
# closes a window at last_ts + gap EXCLUSIVE, so an event exactly
# ``gap`` after its predecessor starts a NEW session — the oracle's
# gaps-and-islands uses ``diff >= gap`` to match (the batch query's
# ``>`` convention differs on exact-boundary ties by design; both are
# pinned by their own oracles).

SESSION_GAP = "30 minutes"
_SESSION_GAP_US = 30 * 60 * 1_000_000


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap-sessions over the event stream: availableNow +
    complete mode makes the stateful session_window agg
    batch-identical, and the DuckDB islands oracle hash-gates it."""

    def query(src: DataFrame) -> DataFrame:
        return (
            src.groupBy(F.session_window("ts", SESSION_GAP), "user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(25,6)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                "user_id",
                F.unix_micros("session_window.start").alias(
                    "session_start_us"
                ),
                "n_events",
                "sum_value",
            )
        )

    return _run_stream(spark, sf_dir, "events", query)


STREAM_SESSION_DUCK = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
),
flagged AS (
  SELECT user_id, ts_us, value,
         CASE WHEN ts_us - lag(ts_us) OVER w >= {_SESSION_GAP_US}
              OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
),
sessions AS (
  SELECT user_id, ts_us, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       CAST(min(ts_us) AS BIGINT) AS session_start_us,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
FROM sessions
GROUP BY user_id, session_id
"""

QUERIES["events_stream_sessions"] = streaming_session_windows
ORACLES["events_stream_sessions"] = STREAM_SESSION_DUCK
