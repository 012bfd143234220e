"""Count-min sketch: mergeable heavy-hitter counting.

The third sketch family (HLL distinct counts and KLL-style quantiles
live in setops.py/windows.py): a D x W integer counter grid where
every observation increments one counter per hash row, and a key's
estimate is the MIN of its D counters (Cormode & Muthukrishnan).
The two properties that matter at 100 TB:

- **mergeable**: CMS(A ∪ B) = CMS(A) + CMS(B) element-wise, so
  partial sketches combine associatively across partitions, days, or
  micro-batches — the same reason HLL is the production distinct
  counter. The stream twin below is exactly that: per-micro-batch
  partial grids (``cms_partial``) summed on read; the batch grid and
  the drained streaming grid are equal INTEGER BY INTEGER, which the
  parity test pins.
- **never underestimates**: est >= exact always. The heavy-hitters
  query carries that invariant as a boolean column, so the driver's
  hash gate re-proves it on every run (the distinct_sketches
  error-bound pattern).

Everything is exact integer arithmetic on md5-derived hashes — both
engines compute identical grids, no estimation noise to absorb.

Scale shape: the grid build is one narrow 4x explode + a groupBy over
a key space of AT MOST D*W = 256 cells (map-side combine does almost
all the work); the heavy-hitter estimate joins the bounded
(distinct-key x D) relation against the 256-cell grid — broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..streaming import fixtures

CMS_D = 4   # hash rows
CMS_W = 64  # counters per row
HH_THRESH = 80


def _col_spark(key_expr: str) -> str:
    return (
        f"CAST(CAST(conv(substr(md5(concat('cms', CAST(i AS STRING), ':', "
        f"{key_expr})), 1, 15), 16, 10) AS BIGINT) % {CMS_W} AS INT)"
    )


def _col_duck(key_expr: str) -> str:
    return (
        f"CAST(CAST(concat('0x', substr(md5(concat('cms', CAST(i AS VARCHAR),"
        f" ':', {key_expr})), 1, 15)) AS BIGINT) % {CMS_W} AS INT)"
    )


CMS_COUNTERS_SPARK = f"""
SELECT CAST(i AS INT) AS row_idx, col, CAST(count(*) AS BIGINT) AS counter
FROM (
  SELECT i, {_col_spark("CAST(user_id AS STRING)")} AS col
  FROM events LATERAL VIEW explode(sequence(0, {CMS_D - 1})) t AS i
)
GROUP BY i, col
ORDER BY row_idx, col
"""

CMS_COUNTERS_DUCK = f"""
SELECT CAST(i AS INT) AS row_idx, col, CAST(count(*) AS BIGINT) AS counter
FROM (
  SELECT i, {_col_duck("CAST(user_id AS VARCHAR)")} AS col
  FROM (
    SELECT user_id, unnest(generate_series(0, {CMS_D - 1})) AS i
    FROM events
  )
)
GROUP BY i, col
ORDER BY row_idx, col
"""

_HH_TAIL = f"""
SELECT user_id, est, exact_cnt,
       est >= exact_cnt AS never_underestimates
FROM (
  SELECT user_id, exact_cnt, min(counter) AS est
  FROM uh
  JOIN counters ON uh.i = counters.row_idx AND uh.col = counters.col
  GROUP BY user_id, exact_cnt
)
WHERE est >= {HH_THRESH}
ORDER BY user_id
"""

CMS_HH_SPARK = f"""
WITH counters AS (
  SELECT CAST(i AS INT) AS row_idx, col, CAST(count(*) AS BIGINT) AS counter
  FROM (
    SELECT i, {_col_spark("CAST(user_id AS STRING)")} AS col
    FROM events LATERAL VIEW explode(sequence(0, {CMS_D - 1})) t AS i
  )
  GROUP BY i, col
),
users AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM events GROUP BY user_id
),
uh AS (
  SELECT user_id, exact_cnt, i,
         {_col_spark("CAST(user_id AS STRING)")} AS col
  FROM users LATERAL VIEW explode(sequence(0, {CMS_D - 1})) t AS i
)
{_HH_TAIL}
"""

CMS_HH_DUCK = f"""
WITH counters AS (
  SELECT CAST(i AS INT) AS row_idx, col, CAST(count(*) AS BIGINT) AS counter
  FROM (
    SELECT i, {_col_duck("CAST(user_id AS VARCHAR)")} AS col
    FROM (
      SELECT user_id, unnest(generate_series(0, {CMS_D - 1})) AS i
      FROM events
    )
  )
  GROUP BY i, col
),
users AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM events GROUP BY user_id
),
uh AS (
  SELECT user_id, exact_cnt, i,
         {_col_duck("CAST(user_id AS VARCHAR)")} AS col
  FROM (
    SELECT user_id, exact_cnt, unnest(generate_series(0, {CMS_D - 1})) AS i
    FROM users
  )
)
{_HH_TAIL}
"""


def _run_events(sql: str):
    def f(spark: SparkSession, sf_dir: str) -> DataFrame:
        catalog.load_table(spark, sf_dir, "events").createOrReplaceTempView(
            "events"
        )
        return spark.sql(sql)

    return f


# ------------------------------------------------ streaming accumulation


def cms_partial(events: DataFrame, production_hash: bool = False) -> DataFrame:
    """The (row_idx, col, counter) partial grid for one batch of
    events — the mergeable unit.

    ``production_hash`` swaps the oracle's md5 bucketing for Spark's
    xxhash64 (codegen-native, measured ~14x faster at 5M events in
    SCALE.md). Any single hash family is a valid CMS; md5 is kept as
    the default ONLY because DuckDB can reproduce it for the driver
    gate. Grids from the two hash families are not mergeable with
    each other — pick one per index."""
    col = (
        f"CAST(pmod(xxhash64(concat('cms', CAST(i AS STRING), ':', "
        f"CAST(user_id AS STRING))), {CMS_W}) AS INT)"
        if production_hash
        else _col_spark("CAST(user_id AS STRING)")
    )
    return (
        events.select("user_id")
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("i"),
            F.col("user_id"),
        )
        .select(
            F.col("i").alias("row_idx"),
            F.expr(col).alias("col"),
        )
        .groupBy("row_idx", "col")
        .agg(F.count(F.lit(1)).alias("counter"))
    )


def read_cms(spark: SparkSession, counters_dir: str) -> DataFrame:
    """Merge the accumulated per-batch grids: element-wise sum."""
    return (
        spark.read.parquet(counters_dir)
        .groupBy("row_idx", "col")
        .agg(F.sum("counter").alias("counter"))
        .orderBy("row_idx", "col")
    )


QUERIES = {
    "events_cms_counters": _run_events(CMS_COUNTERS_SPARK),
    "events_cms_heavy_hitters": _run_events(CMS_HH_SPARK),
}
ORACLES = {
    "events_cms_counters": CMS_COUNTERS_DUCK,
    "events_cms_heavy_hitters": CMS_HH_DUCK,
}


# ------------------------------------------------- driver-gated stream
# The stream twin of events_cms_counters: events staged in two chunks,
# one partial grid per micro-batch, merged on read. The result equals
# the one-pass batch grid by mergeability, so CMS_COUNTERS_DUCK
# hash-gates the micro-batching, the per-batch commits, and the merge.


QUERIES["events_cms_streaming_counters"] = fixtures.Twin(
    "events", ("user_id",), "user_id",
    cms_partial, fixtures.merge_commits(read_cms),
)
ORACLES["events_cms_streaming_counters"] = CMS_COUNTERS_DUCK
