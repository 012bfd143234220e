"""Embedding-quality mining: hard negatives and kNN label purity.

Two standard uses of a labeled embedding table in a training-data
pipeline (public practice: contrastive-learning hard-negative mining,
kNN-based label-noise detection a la Confident Learning):

- **hard negatives**: for each query vector, the top-k most similar
  vectors with a DIFFERENT label — the pairs a contrastive loss most
  needs and a labeling pass should double-check.
- **kNN label purity**: the fraction of each query's unrestricted
  top-k that shares its label. Low purity flags mislabeled points or
  entangled classes; the corpus-level average is an embedding-quality
  regression metric (the supervised cousin of recall.py's tripwire).

Both reuse the brute-force scoring shape (similarity.py): broadcast
the bounded query panel, score corpus-side with the exact JVM cosine
fold, take per-query top-k. The per-query k-row windows partition on
query_id (bounded panel, never corpus-sized). At 100 TB the same
queries run against the ANN indexes instead of the brute-force scan —
the mining logic (label filter, purity ratio) is unchanged; the
brute-force variant here doubles as their ground truth.

Determinism: cosine rounded to 6 (the established absorb-last-ulp
pattern), ties broken by neighbor_id; purity is an integer ratio of
two exact counts rounded once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import catalog
from .similarity import (
    PANEL_TAIL_SQL,
    QUERY_MOD,
    TOP_K,
    _cos_expr,
    bounded_panel,
    cosine6_duck,
)

_SCORED_DUCK = f"""
queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
  FROM embeddings WHERE vec_id % {QUERY_MOD} = 0 {PANEL_TAIL_SQL}
),
scored AS (
  SELECT q.query_id, q.q_label, e.vec_id AS neighbor_id, e.label,
         {cosine6_duck("q.q_emb", "e.embedding")} AS cos_sim
  FROM embeddings e, queries q
  WHERE e.vec_id <> q.query_id
)
"""


def _scored(emb: DataFrame) -> DataFrame:
    queries = bounded_panel(emb, QUERY_MOD).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    pairs = emb.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    return pairs.select(
        "query_id",
        "q_label",
        F.col("vec_id").alias("neighbor_id"),
        "label",
        _cos_expr(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
    )


def hard_negatives(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """Top-k most-similar different-label vectors per query."""
    scored = _scored(emb).filter(F.col("label") != F.col("q_label"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "q_label", "neighbor_id",
            F.col("label").alias("neg_label"), "cos_sim", "rank",
        )
    )


def knn_label_purity(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """Fraction of each query's unrestricted top-k sharing its label."""
    scored = _scored(emb)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    return (
        topk.groupBy("query_id", "q_label")
        .agg(
            F.sum(
                F.when(F.col("label") == F.col("q_label"), 1).otherwise(0)
            ).cast("bigint").alias("n_same"),
            F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
        )
        .select(
            "query_id", "q_label", "n_same", "n_neighbors",
            F.round(
                F.col("n_same").cast("double")
                / F.col("n_neighbors").cast("double"), 6,
            ).alias("purity"),
        )
        .orderBy("query_id")
    )


def _q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout (guide §2.5): 1.22 -> 0.94 s at sf0.1; sized by rows, so
    # each Arrow task keeps >= catalog.FANOUT_ROWS_PER_TASK rows
    return hard_negatives(
        catalog.fanout(
            catalog.load_table(spark, sf_dir, "embeddings"),
            rows=catalog.table_rows(spark, sf_dir, "embeddings"),
        )
    )


def _q_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout (guide §2.5): 1.09 -> 0.96 s at sf0.1; sized by rows, so
    # each Arrow task keeps >= catalog.FANOUT_ROWS_PER_TASK rows
    return knn_label_purity(
        catalog.fanout(
            catalog.load_table(spark, sf_dir, "embeddings"),
            rows=catalog.table_rows(spark, sf_dir, "embeddings"),
        )
    )


HARD_NEG_DUCK = f"""
WITH {_SCORED_DUCK}
SELECT query_id, q_label, neighbor_id, label AS neg_label, cos_sim,
       CAST(rank AS INT) AS rank
FROM (
  SELECT query_id, q_label, neighbor_id, label, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored WHERE label <> q_label
)
WHERE rank <= {TOP_K}
"""

LABEL_PURITY_DUCK = f"""
WITH {_SCORED_DUCK},
topk AS (
  SELECT query_id, q_label, label
  FROM (
    SELECT query_id, q_label, label,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
  )
  WHERE rank <= {TOP_K}
)
SELECT query_id, q_label,
       CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_same,
       CAST(count(*) AS BIGINT) AS n_neighbors,
       round(CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS purity
FROM topk
GROUP BY query_id, q_label
ORDER BY query_id
"""

QUERIES = {
    "emb_hard_negatives": _q_hard_negatives,
    "emb_knn_label_purity": _q_label_purity,
}
ORACLES = {
    "emb_hard_negatives": HARD_NEG_DUCK,
    "emb_knn_label_purity": LABEL_PURITY_DUCK,
}
