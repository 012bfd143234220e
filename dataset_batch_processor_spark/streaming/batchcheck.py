"""Driver-gated streaming query: Structured Streaming vs SQL oracle.

This module puts streaming operators under the DRIVER's DuckDB hash
gate against their batch equivalents. Each query runs a real Structured
Streaming job — file source, groupBy aggregation state, complete
output mode, memory sink — to completion with the availableNow
trigger (process-everything-then-stop, the batch-parity execution
Spark provides for exactly this purpose), then hands the sink table
back as the result DataFrame.

What this proves that the batch queries don't: the incremental
execution path (MicroBatchExecution, streaming aggregation state
store, sink commit protocol) produces byte-identical aggregates to a
single-pass batch plan over the same files. At scale the same
topology is the backfill-then-tail pattern: availableNow over the
backlog, continuous trigger for the tail; decimal-exact sums make
the answer invariant to how the input got micro-batched.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.matcache import scratch_dir

# Stateful streaming operators (agg / dedup / session-window / join)
# allocate one state-store instance PER shuffle partition PER
# operator, and AQE cannot coalesce them — so at fixture volume the
# session default (32) is pure per-instance overhead (~2x the query
# wall, measured on the stream-stream join; round 15 applies the same
# sizing to the other stateful classes per VERDICT r14 next #7). A
# production stream sizes this to throughput, not the session default.
# Round 15b re-measured 8/4/3/2 across all five stateful twins: 4
# dominates (join 5.8 -> 3.8 s, sessions 2.9 -> 2.2 s; 2-3 is inside
# noise of 4 but loses parallelism headroom) — aligned with the
# foreachBatch twins' drain sizing (fixtures.DRAIN_PARTITIONS).
STATE_PARTITIONS = "4"


@contextlib.contextmanager
def _state_sized_session(spark: SparkSession):
    """Scope shuffle.partitions=STATE_PARTITIONS around a streaming
    query start/drain, restoring the session default on ANY exit so a
    mid-construction error can't leak the tweak into the long-lived
    session (the streaming_click_purchase_join discipline)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", STATE_PARTITIONS)
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _stage_file_once(spark: SparkSession, sf_dir: str, table: str) -> str:
    """The file stream source wants a DIRECTORY it can monitor; the
    fixture is a single read-only file, so stage a copy once per
    (session, table, dataset) — at deployment the input would already
    be a landing directory. (Per-run mkdtemp copies before round 15.)"""
    from ..matcache import staged_once

    def write(path: str) -> None:
        os.makedirs(path, exist_ok=True)
        shutil.copy(f"{sf_dir}/{table}.parquet", f"{path}/{table}.parquet")

    return staged_once(spark, f"srcdir_{table}", sf_dir, write)


def streaming_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders.parquet through a real streaming aggregation."""
    path = f"{sf_dir}/orders.parquet"
    stage = _stage_file_once(spark, sf_dir, "orders")
    schema = spark.read.parquet(path).schema
    name = f"stream_counts_{uuid.uuid4().hex[:8]}"
    with _state_sized_session(spark):
        src = spark.readStream.schema(schema).parquet(stage)
        agg = src.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
            .cast("double")
            .alias("total_price"),
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.sql(
        f"SELECT o_orderpriority, n_orders, total_price FROM {name} "
        "ORDER BY o_orderpriority"
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
    path = f"{sf_dir}/events.parquet"
    stage = _stage_file_once(spark, sf_dir, "events")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    schema = spark.read.parquet(path).schema
    name = f"stream_hourly_{uuid.uuid4().hex[:8]}"
    with _state_sized_session(spark):
        src = catalog.normalize_event_ts(
            spark.readStream.schema(schema).parquet(stage)
        )
        agg = (
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
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.sql(
        f"SELECT hour, event_type, n_events, sum_value FROM {name} "
        "ORDER BY hour, event_type"
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
    path = f"{sf_dir}/events.parquet"
    stage = _stage_file_once(spark, sf_dir, "events")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    schema = spark.read.parquet(path).schema
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    with _state_sized_session(spark):
        src = spark.readStream.schema(schema).parquet(stage)
        agg = (
            src.select("user_id", "event_type")
            .dropDuplicates(["user_id", "event_type"])
            .groupBy("event_type")
            .agg(F.count("*").alias("n_users"))
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.sql(
        f"SELECT event_type, n_users FROM {name} ORDER BY event_type"
    )


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
    of the sink table, so the hash gate pins the JOIN's exact output
    multiset against DuckDB's interval self-join."""
    path = f"{sf_dir}/events.parquet"
    stage = _stage_file_once(spark, sf_dir, "events")
    nanos_key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        prev_nanos = spark.conf.get(nanos_key, None)
        spark.conf.set(nanos_key, "true")
    except Exception:
        prev_nanos = None
    schema = spark.read.parquet(path).schema
    # State-store instances scale with shuffle partitions x join sides
    # (x2 here) — the query where the 8-partition sizing was measured
    # (~2x the query wall at 32); see STATE_PARTITIONS.

    def side(event_type, ts_name, uid_name):
        src = catalog.normalize_event_ts(
            spark.readStream.schema(schema).parquet(stage)
        )
        return (
            src.filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(uid_name),
                F.col("ts").alias(ts_name),
            )
            .withWatermark(ts_name, "1 hour")
        )

    name = f"stream_ssj_{uuid.uuid4().hex[:8]}"
    try:
        # EVERYTHING that can fail (plan building included) sits
        # inside the scoped session so a mid-construction error can't
        # leak partitions=8 into the long-lived session
        with _state_sized_session(spark):
            clicks = side("click", "click_ts", "user_id")
            purchases = side("purchase", "p_ts", "p_user")
            joined = clicks.join(
                purchases,
                F.expr(
                    "user_id = p_user AND p_ts > click_ts "
                    "AND p_ts <= click_ts + INTERVAL 1 HOUR"
                ),
            )
            q = (
                joined.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # Materialize the per-user counts NOW (bounded: one row per
        # distinct user) so the memory-sink table and the nanosAsLong
        # override can be released before returning — the caller gets
        # a clean local-relation plan. (The staging dir is session-
        # shared via staged_once and must NOT be removed here.)
        rows = spark.sql(
            f"SELECT user_id, count(*) AS n_pairs FROM {name} "
            "GROUP BY user_id ORDER BY user_id"
        ).collect()
    finally:
        try:
            if prev_nanos is None:
                spark.conf.unset(nanos_key)
            else:
                spark.conf.set(nanos_key, prev_nanos)
        except Exception:
            pass
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(
        rows, "user_id BIGINT, n_pairs BIGINT"
    ).orderBy("user_id")


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
    path = f"{sf_dir}/events.parquet"
    stage = _stage_file_once(spark, sf_dir, "events")
    nanos_key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        prev_nanos = spark.conf.get(nanos_key, None)
        spark.conf.set(nanos_key, "true")
    except Exception:
        prev_nanos = None
    name = f"stream_sess_{uuid.uuid4().hex[:8]}"
    try:
        schema = spark.read.parquet(path).schema
        with _state_sized_session(spark):
            src = catalog.normalize_event_ts(
                spark.readStream.schema(schema).parquet(stage)
            )
            agg = (
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
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # materialize off the memory sink so the view can be dropped
        # before returning (same hygiene as
        # streaming_click_purchase_join; staging is session-shared).
        # Unlike the join's ~|users| rows, sessions are ~|corpus|-
        # sized, so spill to scratch parquet instead of driver-side
        # Row objects (round 15: the collect/createDataFrame
        # roundtrip of ~100k rows was ~1s of pure serialization).
        out = scratch_dir("dbp_stream_sess_out_")
        spark.sql(
            f"SELECT user_id, session_start_us, n_events, sum_value FROM {name}"
        ).write.mode("overwrite").parquet(out)
    finally:
        try:
            if prev_nanos is None:
                spark.conf.unset(nanos_key)
            else:
                spark.conf.set(nanos_key, prev_nanos)
        except Exception:
            pass
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
    return spark.read.parquet(out).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_start_us").cast("long").alias("session_start_us"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
    )


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
