"""Streaming distribution-drift monitor.

The batch twin is ``docs_snapshot_drift`` (dataops.py): as document
shards land, each micro-batch commits its length-bucket histogram
partial (plus each row's shard identity, ``doc_id % N_SHARDS``),
and the dashboard read merges partials and
reports, per shard, the total-variation distance in ppm between the
shard's histogram and the FULL accumulated corpus histogram — "which
arriving shard looks unlike the corpus so far".

Order-free by construction (the hash-gate requirement): micro-batch
ARRIVAL order is not deterministic (file listing order), so the gated
output is keyed on the shard's data identity, not its batch_id, and
every reported number is a pure function of the drained corpus —
histogram counts merge by addition, TV is computed on the merged
table. The DuckDB oracle recomputes the same shards directly from
``documents``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fixtures

N_BUCKETS = 8
BUCKET_CHARS = 64  # n_chars DIV 64, clamped to N_BUCKETS-1
N_SHARDS = 2


def drift_partial(batch_docs: DataFrame) -> DataFrame:
    """(shard_id, bucket, n_docs) for one micro-batch."""
    return (
        batch_docs.select(
            (F.col("doc_id") % N_SHARDS).cast("int").alias("shard_id"),
            F.expr(
                f"CAST(least(n_chars DIV {BUCKET_CHARS}, {N_BUCKETS - 1})"
                " AS INT)"
            ).alias("bucket"),
        )
        .groupBy("shard_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def read_drift(spark: SparkSession, commits_dir: str) -> DataFrame:
    """Merge partials (counts add exactly) and report per shard the
    TV distance in ppm vs the full merged corpus histogram. All
    shares are integer trunc divisions; |a - b| sums are integer."""
    hist = (
        spark.read.parquet(commits_dir)
        .groupBy("shard_id", "bucket")
        .agg(F.sum("n_docs").cast("long").alias("cnt"))
    )
    shard_tot = hist.groupBy("shard_id").agg(
        F.sum("cnt").cast("long").alias("n_shard")
    )
    # `_bb_` = declared-bounded broadcast (plans/audit.py BNLJ guard):
    # bucket domain is N_BUCKETS=8 by construction, so this per-bucket
    # rollup is a fixed-size relation no matter the corpus size.
    corpus = hist.groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("_bb_c_cnt")
    )
    corpus_tot = hist.agg(F.sum("cnt").cast("long").alias("n_total"))
    # dense (shard x bucket) grid: a bucket a shard never saw still
    # contributes |0 - r_ppm| to the TV sum (the oracle mirrors this)
    shares = (
        shard_tot.crossJoin(corpus)
        .join(hist, ["shard_id", "bucket"], "left")
        .crossJoin(F.broadcast(corpus_tot))
        .select(
            "shard_id",
            "n_shard",
            F.expr("coalesce(cnt, 0) * 1000000 DIV n_shard").alias("s_ppm"),
            F.expr("_bb_c_cnt * 1000000 DIV n_total").alias("r_ppm"),
        )
    )
    return (
        shares.groupBy("shard_id", "n_shard")
        .agg(
            F.expr("CAST(sum(abs(s_ppm - r_ppm)) DIV 2 AS BIGINT)").alias(
                "tv_vs_corpus_ppm"
            ),
            F.max(F.expr("abs(s_ppm - r_ppm)")).cast("long").alias(
                "max_bucket_gap_ppm"
            ),
        )
        .select("shard_id", F.col("n_shard").alias("n_docs"),
                "tv_vs_corpus_ppm", "max_bucket_gap_ppm")
        .orderBy("shard_id")
    )


STREAM_DRIFT_DUCK = f"""
WITH b AS (
  SELECT CAST(doc_id % {N_SHARDS} AS INT) AS shard_id,
         CAST(least(n_chars // {BUCKET_CHARS}, {N_BUCKETS - 1}) AS INT)
             AS bucket
  FROM documents
),
hist AS (
  SELECT shard_id, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM b GROUP BY shard_id, bucket
),
st AS (
  SELECT shard_id, CAST(sum(cnt) AS BIGINT) AS n_shard
  FROM hist GROUP BY shard_id
),
corpus AS (
  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c_cnt FROM hist GROUP BY bucket
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM hist),
shares AS (
  -- dense (shard x bucket) grid: missing buckets contribute |0 - r|
  SELECT s.shard_id, s.n_shard,
         coalesce(h.cnt, 0) * 1000000 // s.n_shard AS s_ppm,
         c.c_cnt * 1000000 // t.n_total AS r_ppm
  FROM st s
  CROSS JOIN corpus c
  LEFT JOIN hist h ON h.shard_id = s.shard_id AND h.bucket = c.bucket
  CROSS JOIN tot t
)
SELECT shard_id,
       CAST(n_shard AS BIGINT) AS n_docs,
       CAST(sum(abs(s_ppm - r_ppm)) // 2 AS BIGINT) AS tv_vs_corpus_ppm,
       CAST(max(abs(s_ppm - r_ppm)) AS BIGINT) AS max_bucket_gap_ppm
FROM shares
GROUP BY shard_id, n_shard
ORDER BY shard_id
"""

QUERIES = {
    "docs_stream_drift_monitor": fixtures.Twin(
        "documents", ("doc_id", "n_chars"), "doc_id",
        drift_partial, fixtures.merge_commits(read_drift),
    )
}
ORACLES = {"docs_stream_drift_monitor": STREAM_DRIFT_DUCK}
