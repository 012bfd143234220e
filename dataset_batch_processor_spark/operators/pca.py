"""PCA over embedding columns: the distributed fixed-point covariance.

The standard pre-step for embedding compression (OPQ rotations, dim
reduction before ANN, whitening before cosine). The O(n·d²) work is
distributed; what a PCA fit needs from the corpus is this d x d
matrix (an eigh of a 64x64 matrix is KBs of driver work).

Determinism: covariance is accumulated in FIXED POINT. Each float32
component is quantized as ``floor(x * 1e3 + 0.5)`` — ONE explicit
rounding convention computed identically on both sides (multiply,
add, floor are each correctly-rounded IEEE, so the doubles match bit
for bit before the floor). Do NOT swap in numpy ``rint`` / SQL
``round()``: they disagree on exact halves (rint is half-to-even,
DuckDB round is half-away-from-zero), and exact halves DO occur —
any dyadic component like 0.0625 gives x*1000 == 62.5 exactly. All
downstream sums/products stay in int64 (bounds: |q| <= 531, d = 64,
n <= 1e6 rows per the magnitude audit in the code), so the oracled
query emits EXACT integers — no float sum order anywhere.

At 100 TB: the Spark side is a single mapInPandas GEMM pass — each
Arrow batch contributes Q^T Q (an int64 matmul) plus column sums,
2,080 (i<=j) partial rows per batch — followed by one
map-side-combined groupBy over a key space of size d², independent
of n. Driver traffic is the d x d matrix (32 KB).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog

SCALE = 1_000
DIM = 64

COV_SCHEMA = (
    "i int, j int, sum_ij long, sum_i long, sum_j long, n_part long"
)


def covariance_stats(emb: DataFrame) -> DataFrame:
    """Exact fixed-point second-moment stats per (i, j), i <= j:
    returns (i, j, n, sum_i, sum_j, sum_ij, cov_num) with
    cov_num = n*sum_ij - sum_i*sum_j (the covariance numerator,
    scale SCALE² · n²)."""

    def gemm(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        iu, ju = np.triu_indices(DIM)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # floor(x*S + 0.5), matching COV_DUCK exactly — see the
            # module docstring for why rint/round() must not be used
            q = np.floor(x * SCALE + 0.5).astype(np.int64)
            s = q.T @ q  # int64 GEMM — exact
            col = q.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": iu.astype(np.int32),
                    "j": ju.astype(np.int32),
                    "sum_ij": s[iu, ju],
                    "sum_i": np.full(len(iu), 0, np.int64) + col[iu],
                    "sum_j": np.full(len(ju), 0, np.int64) + col[ju],
                    "n_part": np.full(len(iu), len(pdf), np.int64),
                }
            )

    part = emb.select("embedding").mapInPandas(gemm, schema=COV_SCHEMA)
    return (
        part.groupBy("i", "j")
        .agg(
            F.sum("n_part").alias("n"),
            F.sum("sum_i").alias("sum_i"),
            F.sum("sum_j").alias("sum_j"),
            F.sum("sum_ij").alias("sum_ij"),
        )
        .select(
            "i", "j", "n", "sum_i", "sum_j", "sum_ij",
            (F.col("n") * F.col("sum_ij")
             - F.col("sum_i") * F.col("sum_j")).alias("cov_num"),
        )
    )


def _q_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    return covariance_stats(emb).orderBy("i", "j")


COV_DUCK = f"""
WITH q AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS i,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {SCALE} + 0.5)
              AS BIGINT) AS qv
  FROM embeddings
),
si AS (SELECT i, sum(qv) AS s FROM q GROUP BY i),
n_t AS (SELECT count(DISTINCT vec_id) AS n FROM q),
pairs AS (
  SELECT a.i AS i, b.i AS j, CAST(sum(a.qv * b.qv) AS BIGINT) AS sum_ij
  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
)
SELECT CAST(pairs.i AS INT) AS i, CAST(pairs.j AS INT) AS j,
       CAST(n AS BIGINT) AS n,
       CAST(sa.s AS BIGINT) AS sum_i,
       CAST(sb.s AS BIGINT) AS sum_j,
       sum_ij,
       CAST(n * sum_ij - sa.s * sb.s AS BIGINT) AS cov_num
FROM pairs
JOIN si sa ON sa.i = pairs.i
JOIN si sb ON sb.i = pairs.j
CROSS JOIN n_t
ORDER BY i, j
"""


QUERIES = {"emb_pca_covariance": _q_covariance}
ORACLES = {"emb_pca_covariance": COV_DUCK}
