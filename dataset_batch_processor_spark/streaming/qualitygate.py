"""Streaming per-source quality-admission dashboard.

The curation surface meets the streaming surface: as document shards
land (one micro-batch per file), each batch is scored with the SAME
batch operators the offline pipeline uses — Gopher rules
(webquality.gopher_quality) plus the blocklist budget — and a
per-source (n_seen, n_admitted) partial is committed per batch.
Reading the dashboard back merges partials by addition, which is
exact because counts are mergeable.

Batch parity: the drained, merged dashboard EQUALS the one-pass
batch aggregate over the full corpus (counts are associative and the
per-doc verdicts are stateless), so the batch DuckDB oracle
hash-gates the entire streaming loop — micro-batch scoring, the
idempotent commit layout, and the merge-on-read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fixtures
from ..operators import webquality

BLOCK_BUDGET = 3  # admitted iff passes_gopher AND n_hits <= budget


def admission_partial(batch_docs: DataFrame) -> DataFrame:
    """(source, n_seen, n_admitted) for one shard, via the SAME batch
    operators the offline pipeline runs."""
    verdicts = (
        batch_docs.select("doc_id", "source")
        .join(
            webquality.gopher_quality(batch_docs).select(
                "doc_id", "passes_gopher"
            ),
            "doc_id",
        )
        .join(
            webquality.blocklist_filter(batch_docs).select(
                "doc_id", "n_hits"
            ),
            "doc_id",
        )
    )
    return verdicts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_seen"),
        F.sum(
            (
                F.col("passes_gopher")
                & (F.col("n_hits") <= BLOCK_BUDGET)
            ).cast("long")
        ).cast("long").alias("n_admitted"),
    )


def read_admission(spark: SparkSession, commits_dir: str) -> DataFrame:
    """Merge the per-batch partials (exact: counts add)."""
    return (
        spark.read.parquet(commits_dir)
        .groupBy("source")
        .agg(
            F.sum("n_seen").cast("long").alias("n_seen"),
            F.sum("n_admitted").cast("long").alias("n_admitted"),
        )
        .select(
            "source",
            "n_seen",
            "n_admitted",
            F.expr("n_admitted * 1000000 DIV n_seen").alias("admit_ppm"),
        )
    )


_BLOCK_LIST = ", ".join(f"'{w}'" for w in webquality.BLOCKWORDS)

STREAM_QUALITY_DUCK = f"""
WITH {webquality.GOPHER_CHAIN_DUCK},
verdicts AS (
  SELECT b.doc_id,
         (b.n_words >= {webquality.MIN_WORDS}
          AND b.word_chars * 1000 // b.n_words
              >= {webquality.MEAN_LEN_LO_X1000}
          AND b.word_chars * 1000 // b.n_words
              <= {webquality.MEAN_LEN_HI_X1000}
          AND b.stopword_hits >= {webquality.MIN_STOPWORD_HITS}
          AND t.top_count * 1000000 // b.n_words
              <= {webquality.TOP_WORD_MAX_PPM}) AS ok
  FROM base b JOIN top t ON b.doc_id = t.doc_id
),
blk AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '),
             w -> w IN ({_BLOCK_LIST}))) AS n_hits
  FROM documents
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_seen,
       CAST(count(*) FILTER (WHERE v.ok AND k.n_hits <= {BLOCK_BUDGET})
            AS BIGINT) AS n_admitted,
       CAST(count(*) FILTER (WHERE v.ok AND k.n_hits <= {BLOCK_BUDGET})
            * 1000000 // count(*) AS BIGINT) AS admit_ppm
FROM documents d
JOIN verdicts v ON d.doc_id = v.doc_id
JOIN blk k ON d.doc_id = k.doc_id
GROUP BY d.source
"""

QUERIES = {
    "docs_stream_quality_admission": fixtures.Twin(
        "documents", ("doc_id", "text", "source"), "doc_id",
        admission_partial, fixtures.merge_commits(read_admission),
    )
}
ORACLES = {"docs_stream_quality_admission": STREAM_QUALITY_DUCK}
