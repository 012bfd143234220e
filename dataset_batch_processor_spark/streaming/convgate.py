"""Streaming conversation-validation admission — the micro-batch twin
of docs_chat_validate (operators/chatvalidate.py), completing the
round-11 SFT-ingest story: shards of arriving conversations are
validated AS THEY LAND with the same gated verdict cascade, and the
per-reason admission dashboard accumulates exactly.

Shape (the qualitygate.py contract): each micro-batch runs the SAME
parameterized verdict chain over the batch view and commits its
(decision, reason, n_convs) partial. Verdicts are stateless per
conversation and need no cross-batch state (unlike turndedup.py's
digest index), so the merged dashboard EQUALS the one-pass batch
rollup and the batch DuckDB oracle (CHAT_VALIDATE_COUNTS_DUCK)
hash-gates the whole loop: micro-batch scoring, the idempotent
commit layout, and merge-on-read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fixtures
from ..operators import chatvalidate


def validation_partial(batch_docs: DataFrame) -> DataFrame:
    """(decision, reason, n_convs) for one shard via the gated chain."""
    return fixtures.batch_sql(batch_docs, chatvalidate.validate_counts_sql)


def read_validation(spark: SparkSession, commits_dir: str) -> DataFrame:
    """Merge the per-batch partials (exact: counts add)."""
    return (
        spark.read.parquet(commits_dir)
        .groupBy("decision", "reason")
        .agg(F.sum("n_convs").cast("long").alias("n_convs"))
    )


QUERIES = {
    "docs_stream_conv_validation": fixtures.Twin(
        "documents", ("doc_id", "text"), "doc_id",
        validation_partial, fixtures.merge_commits(read_validation),
    )
}
# batch parity: stateless per-doc verdicts + associative counts mean
# the drained stream equals the one-pass batch rollup — the SAME
# oracle that gates docs_chat_validate_counts gates the whole loop.
ORACLES = {
    "docs_stream_conv_validation": chatvalidate.CHAT_VALIDATE_COUNTS_DUCK
}
