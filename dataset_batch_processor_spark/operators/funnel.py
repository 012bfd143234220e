"""Event funnel / retention / sliding-window analytics.

The product-analytics surface a training-data platform's telemetry
side needs (and a standard OLAP workload family in its own right):
step funnels, long-window sliding active users, threshold heavy
hitters, and nearest-rank percentiles. (Cohort retention already
exists as analytics.events_cohort_retention — not duplicated here.) None of these exist in the reference (its
scope is file batches); all are first-class here because the events
table is where a 100-TB ingest pipeline's operational questions land.

Scale shapes:
- **funnel**: three user-keyed aggregations chained by joins — every
  shuffle is on user_id, so after the first Exchange the rest reuse
  the partitioning; nothing wider than (user, 3 timestamps) ever
  materializes.
- **sliding WAU**: the (day, user) distinct collapses the corpus to
  active-pairs; the 7-day window is a small range join on the DAY
  table (days × 7 rows), never on raw events.
- **heavy hitters**: one map-side-combined count + a broadcast scalar
  total; the threshold filter keeps output at ≤ k rows by
  construction (n/threshold keys can exceed n/threshold count).

Determinism: all time math in integer microseconds / epoch-days
(unix_micros ↔ epoch_us, integer DIV), counts and ppm shares are
exact integers — no engine-variant float path anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import catalog
from ..streaming import fixtures

DAY_US = 86_400_000_000
FUNNEL_WINDOW_US = 7 * DAY_US
FUNNEL_STEPS = ("view", "click", "purchase")
HH_DENOM = 140  # heavy hitter = user owning > total/140 of all events


def funnel_conversion(ev: DataFrame) -> DataFrame:
    """Users reaching each ordered step (view → click → purchase),
    later steps constrained to ≥ the previous step's first time and
    within the 7-day window of step 1."""
    us = ev.select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    t1 = (
        us.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    t2 = (
        us.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(t1, "user_id")
        .filter(
            (F.col("us") >= F.col("t1"))
            & (F.col("us") <= F.col("t1") + FUNNEL_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"), F.min("t1").alias("t1b"))
    )
    t3 = (
        us.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(t2, "user_id")
        .filter(
            (F.col("us") >= F.col("t2"))
            & (F.col("us") <= F.col("t1b") + FUNNEL_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    rows = [
        t1.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(1).alias("step_no"),
            F.lit(FUNNEL_STEPS[0]).alias("step"),
            "n_users",
        ),
        t2.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(2).alias("step_no"),
            F.lit(FUNNEL_STEPS[1]).alias("step"),
            "n_users",
        ),
        t3.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(3).alias("step_no"),
            F.lit(FUNNEL_STEPS[2]).alias("step"),
            "n_users",
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("step_no")


def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel_conversion(catalog.load_events(spark, sf_dir))


FUNNEL_DUCK = f"""
WITH us AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
t1 AS (
  SELECT user_id, min(us) AS t1 FROM us
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
),
t2 AS (
  SELECT u.user_id, min(u.us) AS t2, min(t1.t1) AS t1b
  FROM us u JOIN t1 ON u.user_id = t1.user_id
  WHERE u.event_type = '{FUNNEL_STEPS[1]}'
    AND u.us >= t1.t1 AND u.us <= t1.t1 + {FUNNEL_WINDOW_US}
  GROUP BY u.user_id
),
t3 AS (
  SELECT u.user_id, min(u.us) AS t3
  FROM us u JOIN t2 ON u.user_id = t2.user_id
  WHERE u.event_type = '{FUNNEL_STEPS[2]}'
    AND u.us >= t2.t2 AND u.us <= t2.t1b + {FUNNEL_WINDOW_US}
  GROUP BY u.user_id
)
SELECT * FROM (
  SELECT 1 AS step_no, '{FUNNEL_STEPS[0]}' AS step,
         (SELECT count(*) FROM t1) AS n_users
  UNION ALL
  SELECT 2, '{FUNNEL_STEPS[1]}', (SELECT count(*) FROM t2)
  UNION ALL
  SELECT 3, '{FUNNEL_STEPS[2]}', (SELECT count(*) FROM t3)
) ORDER BY step_no
"""


WAU_WINDOW_DAYS = 7


def sliding_wau(ev: DataFrame, window_days: int = WAU_WINDOW_DAYS) -> DataFrame:
    """(day, wau): distinct users active in the trailing
    ``window_days`` ending at each day THE DATA CONTAINS.

    The LONG-window sibling of events.events_sliding_active_users
    (3 h window / 1 h slide via window()-explode): explode-into-windows
    copies every event window/slide times — fine at 3×, wasteful at 7×
    and ruinous at 90× — so this formulation touches each event once
    (one (day, user) distinct) and range-joins the tiny day table."""
    act = ev.select(
        "user_id",
        F.expr(f"unix_micros(ts) DIV {DAY_US}").alias("day"),
    ).distinct()
    # `_bb_` = declared-bounded broadcast (plans/audit.py BNLJ guard):
    # the day spine has one row per calendar day of data — decades of
    # history is ~1e4 rows — so the range-join may broadcast it.
    days = act.select("day").distinct().withColumnRenamed("day", "_bb_d")
    joined = days.join(
        act,
        (F.col("day") <= F.col("_bb_d"))
        & (F.col("day") > F.col("_bb_d") - window_days),
    )
    return (
        joined.groupBy("_bb_d")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(F.col("_bb_d").alias("day"), "wau")
        .orderBy("day")
    )


def _q_sliding_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_wau(catalog.load_events(spark, sf_dir))


def sliding_wau_duck(window_days: int = WAU_WINDOW_DAYS) -> str:
    """DuckDB oracle generated from the SAME window parameter as
    ``sliding_wau`` — a caller using a non-default window gets a
    matching oracle instead of silently losing coverage."""
    return f"""
WITH act AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {DAY_US} AS day FROM events
),
days AS (SELECT DISTINCT day AS d FROM act)
SELECT d AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
FROM days JOIN act ON act.day <= d AND act.day > d - {window_days}
GROUP BY d
ORDER BY day
"""


SLIDING_WAU_DUCK = sliding_wau_duck()


def heavy_hitters(ev: DataFrame, denom: int = HH_DENOM) -> DataFrame:
    """Users owning more than total/denom of all events, with their
    exact count and parts-per-million share (integer arithmetic)."""
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    total = ev.agg(F.count(F.lit(1)).alias("total"))
    return (
        per_user.crossJoin(F.broadcast(total))
        .filter(F.col("n_events") * denom > F.col("total"))
        .select(
            "user_id",
            "n_events",
            F.expr("n_events * 1000000 DIV total").alias("share_ppm"),
        )
        .orderBy(F.desc("n_events"), "user_id")
    )


def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return heavy_hitters(catalog.load_events(spark, sf_dir))


def heavy_hitters_duck(denom: int = HH_DENOM) -> str:
    """DuckDB oracle generated from the SAME threshold denominator as
    ``heavy_hitters`` — non-default denoms keep oracle coverage."""
    return f"""
WITH per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM events)
SELECT user_id, n_events,
       CAST(n_events * 1000000 // total AS BIGINT) AS share_ppm
FROM per_user, tot
WHERE n_events * {denom} > total
ORDER BY n_events DESC, user_id
"""


HEAVY_HITTERS_DUCK = heavy_hitters_duck()


QUERIES = {
    "events_funnel_conversion": _q_funnel,
    "events_sliding_wau": _q_sliding_wau,
    "events_heavy_hitters": _q_heavy_hitters,
}
ORACLES = {
    "events_funnel_conversion": FUNNEL_DUCK,
    "events_sliding_wau": SLIDING_WAU_DUCK,
    "events_heavy_hitters": HEAVY_HITTERS_DUCK,
}


# --------------------------------------------- exact percentiles
# Nearest-rank percentiles per event_type, computed as explicit order
# statistics (row_number over (value, event_id) — the event_id
# tie-break makes the SELECTED ROW deterministic even with duplicate
# values). The INTERPOLATED estimator already exists as
# events.events_value_percentiles (percentile/quantile_cont,
# rounded); this is the other standard estimator, and because it
# SELECTS a stored value rather than computing one, the output double
# is bit-identical with no rounding at all. The window partitions by event_type —
# a keyed window over ~n/|types| rows per partition, not a global
# sort; at extreme per-key cardinality the two-pass count+filter
# formulation replaces it (same rank arithmetic).

PCTS = (50, 90, 99)


def value_percentiles(ev: DataFrame) -> DataFrame:
    ranked = ev.select(
        "event_type",
        F.col("value").alias("v"),
        "event_id",
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("v", "event_id")
        ),
    )
    counts = ranked.groupBy("event_type").agg(F.max("rn").alias("n"))
    j = ranked.join(counts, "event_type")
    aggs = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"CAST(ceil(n * {p} / 100.0) AS BIGINT)"),
                F.col("v"),
            )
        ).alias(f"p{p}")
        for p in PCTS
    ]
    return j.groupBy("event_type").agg(*aggs).orderBy("event_type")


def _q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return value_percentiles(catalog.load_events(spark, sf_dir))


PERCENTILES_DUCK = f"""
WITH ranked AS (
  SELECT event_type, value AS v, event_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn
  FROM events
),
counts AS (
  SELECT event_type, max(rn) AS n FROM ranked GROUP BY event_type
)
SELECT r.event_type,
       {", ".join(
           f"max(CASE WHEN r.rn = CAST(ceil(c.n * {p} / 100.0) AS BIGINT)"
           f" THEN r.v END) AS p{p}"
           for p in PCTS
       )}
FROM ranked r JOIN counts c ON c.event_type = r.event_type
GROUP BY r.event_type
ORDER BY r.event_type
"""

QUERIES["events_value_percentiles_exact"] = _q_percentiles
ORACLES["events_value_percentiles_exact"] = PERCENTILES_DUCK


# ------------------------------------- streaming heavy hitters
# The incremental form of ``heavy_hitters``: per-user counts are
# mergeable by addition, so each micro-batch commits its partial
# count table and the read side sums partials before thresholding.
# The result EQUALS the one-pass batch query by mergeability, so
# HEAVY_HITTERS_DUCK hash-gates the micro-batching, the commits, and
# the merge — the same invariant family as
# events_cms_streaming_counters.


def user_counts_partial(events: DataFrame) -> DataFrame:
    """(user_id, n) event counts for one batch — the mergeable unit."""
    return events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))


def read_heavy_hitters(spark: SparkSession, counts_dir: str) -> DataFrame:
    """Sum the per-batch counts, then threshold as ``heavy_hitters``."""
    per_user = (
        spark.read.parquet(counts_dir)
        .groupBy("user_id")
        .agg(F.sum("n").alias("n_events"))
    )
    total = per_user.agg(F.sum("n_events").alias("total"))
    return (
        per_user.crossJoin(F.broadcast(total))
        .filter(F.col("n_events") * HH_DENOM > F.col("total"))
        .select(
            "user_id",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.expr("n_events * 1000000 DIV total").alias("share_ppm"),
        )
        .orderBy(F.desc("n_events"), "user_id")
    )


QUERIES["events_stream_heavy_hitters"] = fixtures.Twin(
    "events", ("user_id",), "user_id",
    user_counts_partial, fixtures.merge_commits(read_heavy_hitters),
)
ORACLES["events_stream_heavy_hitters"] = HEAVY_HITTERS_DUCK


# ------------------------------------------- DAU / WAU / MAU
# The engagement trio + stickiness (DAU/MAU) per day, all from the
# same per-day activity table sliding_wau uses: one (day, user)
# distinct over the corpus, then range joins against the tiny day
# list for the 7- and 30-day windows. Stickiness in integer ppm.


def engagement_metrics(ev: DataFrame) -> DataFrame:
    act = ev.select(
        "user_id",
        F.expr(f"unix_micros(ts) DIV {DAY_US}").alias("day"),
    ).distinct()
    # `_bb_` = declared-bounded broadcast (plans/audit.py BNLJ guard):
    # one row per calendar day of data, safe to broadcast.
    days = act.select("day").distinct().withColumnRenamed("day", "_bb_d")

    def trailing(window_days: int, name: str) -> DataFrame:
        return (
            days.join(
                act,
                (F.col("day") <= F.col("_bb_d"))
                & (F.col("day") > F.col("_bb_d") - window_days),
            )
            .groupBy("_bb_d")
            .agg(F.countDistinct("user_id").alias(name))
        )

    dau = trailing(1, "dau")
    wau = trailing(7, "wau")
    mau = trailing(30, "mau")
    return (
        dau.join(wau, "_bb_d")
        .join(mau, "_bb_d")
        .select(
            F.col("_bb_d").alias("day"),
            "dau", "wau", "mau",
            F.expr("dau * 1000000 DIV mau").alias("stickiness_ppm"),
        )
        .orderBy("day")
    )


def _q_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    return engagement_metrics(catalog.load_events(spark, sf_dir))


ENGAGEMENT_DUCK = f"""
WITH act AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {DAY_US} AS day FROM events
),
days AS (SELECT DISTINCT day AS d FROM act),
dau AS (
  SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM days JOIN act ON act.day = d GROUP BY d
),
wau AS (
  SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
  FROM days JOIN act ON act.day <= d AND act.day > d - 7 GROUP BY d
),
mau AS (
  SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
  FROM days JOIN act ON act.day <= d AND act.day > d - 30 GROUP BY d
)
SELECT dau.d AS day, dau.dau, wau.wau, mau.mau,
       CAST(dau.dau * 1000000 // mau.mau AS BIGINT) AS stickiness_ppm
FROM dau JOIN wau ON wau.d = dau.d JOIN mau ON mau.d = dau.d
ORDER BY day
"""

QUERIES["events_engagement_metrics"] = _q_engagement
ORACLES["events_engagement_metrics"] = ENGAGEMENT_DUCK
