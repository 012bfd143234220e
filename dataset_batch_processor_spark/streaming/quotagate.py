"""Streaming per-source quota admission — the micro-batch twin of
``docs_quota_sample`` (operators/curation.py), round 12 / VERDICT r11
next #7: the exact bottom-k reservoir was batch-only; an ingest loop
wants to admit "the same k docs per source, reproducibly" as shards
LAND, without replaying the corpus.

Why the twin is EXACT: bottom-k hash sampling is associative — the
bottom-k of per-shard bottom-k's equals the bottom-k of the union
(a row outside its shard's bottom k cannot be in the global bottom
k — the same argument that makes the batch query's two-level
tournament exact). So each micro-batch commits its per-source
bottom-k PARTIAL (keeping the md5 draw ``h``), and merge-on-read
re-ranks the union of partials. The drained stream therefore EQUALS
the one-pass batch rollup, and the SAME DuckDB oracle that gates
docs_quota_sample (the one-level window spelling) hash-gates the
whole loop: micro-batch sampling, the commit layout, and the merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import fixtures
from ..operators import curation


def quota_partial(batch_docs: DataFrame) -> DataFrame:
    """(source, doc_id, h): one shard's per-source bottom-k via the
    gated tournament chain."""
    return fixtures.batch_sql(batch_docs, curation.quota_bottomk_sql)


def read_quota(spark: SparkSession, commits_dir: str) -> DataFrame:
    """Merge the partials: bottom-k of the union, ranked — exactly
    the batch query's output shape (source, doc_id, sample_rank)."""
    spark.read.parquet(commits_dir).createOrReplaceTempView(
        "quota_partials"
    )
    return spark.sql(f"""
SELECT source, doc_id,
       CAST(rn AS INT) AS sample_rank
FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
  FROM quota_partials
) WHERE rn <= {curation.QUOTA_K}
""")


QUERIES = {
    "docs_stream_quota_sample": fixtures.Twin(
        "documents", ("doc_id", "source"), "doc_id",
        quota_partial, fixtures.merge_commits(read_quota),
    )
}
# batch parity: associative bottom-k partials + idempotent commits
# mean the drained stream equals the one-pass batch sample — the SAME
# oracle that gates docs_quota_sample gates the whole loop.
ORACLES = {"docs_stream_quota_sample": curation.QUOTA_SAMPLE_DUCK}
