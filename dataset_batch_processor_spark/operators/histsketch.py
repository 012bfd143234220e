"""Mergeable histogram quantiles: the production distributed
percentile recipe.

``approx_percentile`` answers one query on one dataset; a serving
pipeline instead maintains a MERGEABLE summary — here a fixed-bin
integer histogram (bin = floor(value * BIN_SCALE), clamped) whose
merge is element-wise addition, the same associativity that makes
HLL and CMS (cms.py) the production counters. Any quantile is then
answered from the merged counts alone: the smallest bin whose
cumulative count reaches ceil(p * n). Everything is exact integer
arithmetic — floor of a correctly-rounded multiply, integer cumsums,
an integer threshold — so the driver's hash gate applies, unlike a
raw t-digest whose centroids are float-accumulation-order dependent.

Accuracy contract: the estimate is exact to bin width (1/BIN_SCALE),
a FIXED error bound chosen up front — the trade a fixed-bin summary
makes vs a t-digest's relative error, in exchange for exact
mergeability and engine-portable determinism.

Scale shape: the histogram build is a narrow map + a groupBy over at
most (max-min)*BIN_SCALE bins with map-side combine; the quantile
extraction is a window over the BIN TABLE (thousands of rows), never
the data. The stream twin commits per-micro-batch partial histograms
(``hist_partial``) and the parity test pins streaming merge ==
one-pass batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..streaming import fixtures

BIN_SCALE = 10  # bin width 0.1
QS = (50, 90, 99)

HIST_SPARK = f"""
SELECT CAST(floor(value * {BIN_SCALE}) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY floor(value * {BIN_SCALE})
ORDER BY bin
"""

HIST_DUCK = HIST_SPARK

# one aggregation pass computes every percentile's bin (min over a
# CASE per target), then a constant-size unpivot — per-percentile
# CTEs would re-aggregate the cumulative table once per target
_Q_MINS = ",\n       ".join(
    f"min(CASE WHEN cum_n * 100 >= {p} * total_n THEN bin END) AS bin_{p}"
    for p in QS
)
# unpivot by cross-joining the ONE mins row with a constant pct list
# — referencing mins once per percentile would let Spark's CTE
# inlining recompute the whole aggregation per branch
_Q_PCTS = "\n  UNION ALL\n  ".join(f"SELECT {p} AS pct" for p in QS)
_Q_BIN_CASE = "CASE pct " + " ".join(
    f"WHEN {p} THEN bin_{p}" for p in QS
) + " END"

QUANTILES_SQL = f"""
WITH hist AS (
  SELECT CAST(floor(value * {BIN_SCALE}) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n
  FROM events
  GROUP BY floor(value * {BIN_SCALE})
),
cum AS (
  SELECT bin, sum(n) OVER (ORDER BY bin
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
  FROM hist
),
total AS (SELECT sum(n) AS total_n FROM hist),
mins AS (
  SELECT {_Q_MINS}
  FROM cum CROSS JOIN total
)
SELECT CAST(pct AS INT) AS pct,
       CAST({_Q_BIN_CASE} AS BIGINT) AS bin,
       CAST({_Q_BIN_CASE} AS DOUBLE) / {BIN_SCALE} AS value_estimate
FROM mins CROSS JOIN (
  {_Q_PCTS}
) pcts
ORDER BY pct
"""

# Spark side: the bin table is bounded by the VALUE DOMAIN (thousands
# of bins), not the corpus — but an unpartitioned running-sum window
# is still the banned shape (a wide domain would funnel through one
# task), so the cumulative count comes from textops.exclusive_prefix_sum
# over the bin table. The DuckDB oracle keeps the window form above.
_QUANTILES_FINAL_SPARK = f"""
WITH total AS (SELECT sum(n) AS total_n FROM _histq_hist),
mins AS (
  SELECT {_Q_MINS}
  FROM _histq_cum CROSS JOIN total
)
SELECT CAST(pct AS INT) AS pct,
       CAST({_Q_BIN_CASE} AS BIGINT) AS bin,
       CAST({_Q_BIN_CASE} AS DOUBLE) / {BIN_SCALE} AS value_estimate
FROM mins CROSS JOIN (
  {_Q_PCTS}
) pcts
ORDER BY pct
"""


def _q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import exclusive_prefix_sum

    catalog.load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events"
    )
    hist = spark.sql(f"""
SELECT CAST(floor(value * {BIN_SCALE}) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY floor(value * {BIN_SCALE})
""")
    cum = (
        exclusive_prefix_sum(hist, ["bin"], "n", out_col="_excl")
        .select("bin", (F.col("_excl") + F.col("n")).alias("cum_n"))
    )
    hist.createOrReplaceTempView("_histq_hist")
    cum.createOrReplaceTempView("_histq_cum")
    return spark.sql(_QUANTILES_FINAL_SPARK)


def _run_events(sql: str):
    def f(spark: SparkSession, sf_dir: str) -> DataFrame:
        catalog.load_table(spark, sf_dir, "events").createOrReplaceTempView(
            "events"
        )
        return spark.sql(sql)

    return f


# ------------------------------------------------ streaming accumulation


def hist_partial(events: DataFrame) -> DataFrame:
    """(bin, n) partial histogram for one batch — the mergeable unit."""
    return (
        events.select(
            F.floor(F.col("value") * BIN_SCALE).cast("bigint").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def read_hist(spark: SparkSession, hist_dir: str) -> DataFrame:
    """Merge the accumulated per-batch histograms: per-bin sum."""
    return (
        spark.read.parquet(hist_dir)
        .groupBy("bin")
        .agg(F.sum("n").alias("n"))
        .orderBy("bin")
    )


QUERIES = {
    "events_value_histogram": _run_events(HIST_SPARK),
    "events_hist_quantiles": _q_hist_quantiles,
}
ORACLES = {
    "events_value_histogram": HIST_DUCK,
    "events_hist_quantiles": QUANTILES_SQL,
}


# ------------------------------------------------- driver-gated stream
# The stream twin of events_value_histogram: mergeability makes the
# drained result equal the one-pass batch histogram, so HIST_DUCK
# gates the loop.


QUERIES["events_hist_streaming"] = fixtures.Twin(
    "events", ("value",), "CAST(value * 100 AS BIGINT)",
    hist_partial, fixtures.merge_commits(read_hist),
)
ORACLES["events_hist_streaming"] = HIST_DUCK
