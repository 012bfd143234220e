"""Streaming canary-exposure monitor — the micro-batch twin of
docs_canary_leak_card (operators/canary.py), extending the
streaming-twin family to the GOVERNANCE surface: as retraining shards
land, the memorization probe runs live instead of waiting for the
corpus-level batch audit.

Exposure is stateless per DOC (the plant, the rollout windows, and
the leak test all derive from that document alone), and docs are
unique across arriving shards, so each micro-batch commits its
per-doc exposure PARTIAL — (doc_id, n_leak) for the batch's planted
docs — and merge-on-read recomputes the corpus leak card EXACTLY:
counts and sums over a disjoint union of per-doc rows equal the
one-pass batch rollup term for term. The SAME DuckDB oracle that
gates docs_canary_leak_card gates the whole loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import canary
from . import fixtures

_PARTIAL_TAIL = """
SELECT doc_id, CAST(sum(leaked) AS BIGINT) AS n_leak
FROM leaks WHERE is_planted GROUP BY doc_id
"""


def exposure_partial(batch_docs: DataFrame) -> DataFrame:
    """(doc_id, n_leak) for one shard's planted docs via the gated
    plant->rollout->leak chain."""
    return fixtures.batch_sql(
        batch_docs, lambda view: canary._sql("spark", _PARTIAL_TAIL, table=view)
    )


def read_leak_card(spark: SparkSession, commits_dir: str) -> DataFrame:
    """Merge the per-doc partials into the corpus leak card (docs are
    disjoint across batches; a retried batch replaced its own
    partition, so sum-of-max per doc is unnecessary — plain sums are
    exact)."""
    per_doc = spark.read.parquet(commits_dir)
    return per_doc.agg(
        F.count("*").cast("long").alias("n_planted"),
        F.sum((F.col("n_leak") > 0).cast("int"))
        .cast("long")
        .alias("n_docs_leaked"),
        F.sum("n_leak").cast("long").alias("n_leak_rollouts"),
        F.expr(
            f"CAST(sum(n_leak) * 1000000"
            f" DIV (count(*) * {canary.N_ROLLOUTS}) AS BIGINT)"
        ).alias("exposure_ppm"),
    )


QUERIES = {
    "docs_stream_canary_card": fixtures.Twin(
        "documents", ("doc_id", "text"), "doc_id",
        exposure_partial, fixtures.merge_commits(read_leak_card),
    )
}
# batch parity: per-doc exposure is stateless and docs are disjoint
# across shards, so the drained stream equals the one-pass batch card
# — the SAME oracle that gates docs_canary_leak_card.
ORACLES = {"docs_stream_canary_card": canary._sql("duck", canary._CARD_TAIL)}
