"""Streaming DPO margin-distribution monitor — the micro-batch twin
of docs_pref_margin_hist (operators/preference.py), the audit an
RLHF ingest loop keeps live as preference pairs arrive: mass
accumulating in margin bucket 0 (coin-flips) means the incoming pair
stream has stopped carrying signal and collection should pause.

Pair scoring is stateless per PROMPT (both candidates derive from the
document alone), so each arriving shard commits a per-batch PARTIAL:
the (margin_bucket, n_pairs, min/max margin) histogram — at most 10
rows per batch. Counts add and min/max merge associatively, so
merge-on-read reproduces the one-pass batch rollup EXACTLY and the
SAME DuckDB oracle that gates docs_pref_margin_hist gates the whole
loop (micro-batch scoring, idempotent commits, merge-on-read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fixtures
from ..operators import preference


def margin_partial(batch_docs: DataFrame) -> DataFrame:
    """(margin_bucket, n_pairs, min_margin, max_margin) for one shard
    via the gated pairs chain."""
    # built from the SAME parameterized template as the batch query
    # (rlvr._chain convention) — no textual rewriting of the batch
    # SQL, so a chain-internal rename cannot silently retarget it
    return fixtures.batch_sql(
        batch_docs,
        lambda view: preference._sql(
            "spark", preference._MARGIN_TAIL, 2, table=view
        ),
    )


def read_margins(spark: SparkSession, commits_dir: str) -> DataFrame:
    """Merge the partials (counts add, min/max merge — exact)."""
    return (
        spark.read.parquet(commits_dir)
        .groupBy("margin_bucket")
        .agg(
            F.sum("n_pairs").cast("long").alias("n_pairs"),
            F.min("min_margin").cast("long").alias("min_margin"),
            F.max("max_margin").cast("long").alias("max_margin"),
        )
    )


QUERIES = {
    "docs_stream_margin_hist": fixtures.Twin(
        "documents", ("doc_id", "text"), "doc_id",
        margin_partial, fixtures.merge_commits(read_margins),
    )
}
# batch parity: stateless per-prompt scoring + associative histogram
# merges mean the drained stream equals the one-pass batch rollup —
# the SAME oracle that gates docs_pref_margin_hist.
ORACLES = {"docs_stream_margin_hist": preference.MARGIN_HIST_DUCK}
