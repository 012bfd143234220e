"""Incremental near-duplicate detection over a document stream.

The batch MinHash-LSH pipeline (operators/dedup.py) assumes the whole
corpus is present; a production ingestion pipeline sees documents
arrive continuously and wants each batch checked against EVERYTHING
ingested so far without recomputing history. Each micro-batch

1. computes MinHash band buckets for the new micro-batch only
   (the per-batch cost is linear in the batch),
2. equi-joins the new buckets against the ACCUMULATED bucket index
   (new-vs-old) and against themselves (new-vs-new) to emit exactly
   the candidate pairs that involve a new document,
3. commits the new buckets to the index and the new pairs to the
   pairs log.

Invariant (test-pinned): after the stream drains, the union of all
emitted pairs equals the UNCAPPED batch
``lsh_pairs_df(docs, max_bucket_size=None)`` over the same corpus —
incremental ingestion discovers exactly the batch answer, in any
batch partitioning of the input. Each pair is emitted exactly once
(when its SECOND member arrives): new-vs-old pairs can't repeat
because one side is strictly older, and new-vs-new uses the a<b
half-join.

Hot-bucket cap caveat (round 9): the batch path's default
``DEFAULT_MAX_BUCKET_SIZE`` drops a whole bucket retroactively once
it exceeds the cap — a stream cannot retract pairs it already
emitted, so exact parity with the CAPPED batch is unattainable above
the cap. The streaming analogue is ``max_bucket_size`` below: an
EMISSION cap that stops producing pairs for any bucket whose
accumulated size (index + batch) exceeds the budget — it bounds the
per-batch candidate blowup (the actual production hazard) while
pairs emitted before saturation stand. Default None preserves the
exact uncapped-batch parity the oracle pins.

Scale: the index grows as corpus x N_BANDS rows of (doc_id, band,
bucket); the join key (band, bucket) is the same uniformly-hashed key
the batch pipeline shuffles on. At deployment the index is a table
bucketed by (band, bucket) so each
micro-batch joins exchange-free on the index side, and compaction is
a background rewrite.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import lsh_bands_df, minhash_signatures_df
from . import fixtures


def lsh_step(
    batch: DataFrame, band_index: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> dict[str, DataFrame]:
    """One micro-batch: its new pairs and its band-index rows.

    ``batch`` carries (doc_id, text); ``band_index`` is the index
    accumulated by earlier batches. ``max_bucket_size`` is the
    streaming EMISSION cap (module docstring): buckets whose
    accumulated size exceeds it stop yielding candidates."""
    # persisted: both sinks are computed from it (fixtures.drain)
    all_bands = lsh_bands_df(
        minhash_signatures_df(batch.select("doc_id", "text"))
    ).persist()
    bands = all_bands
    if max_bucket_size is not None:
        # emission cap: exclude saturated buckets from the CANDIDATE
        # joins only — the index sink keeps every band row, so
        # saturation is judged against the true accumulated size
        acc = all_bands.select("band", "bucket")
        if band_index is not None:
            acc = acc.unionByName(band_index.select("band", "bucket"))
        sizes = acc.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("_bsz")
        )
        bands = all_bands.join(
            sizes.filter(F.col("_bsz") <= max_bucket_size),
            ["band", "bucket"],
        ).drop("_bsz")
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    if band_index is not None:
        new_old = (
            bands.alias("n")
            .join(
                band_index.alias("o"),
                (F.col("n.band") == F.col("o.band"))
                & (F.col("n.bucket") == F.col("o.bucket")),
            )
            .select(
                F.least(F.col("n.doc_id"), F.col("o.doc_id")).alias("doc_a"),
                F.greatest(
                    F.col("n.doc_id"), F.col("o.doc_id")
                ).alias("doc_b"),
            )
            .filter(F.col("doc_a") != F.col("doc_b"))
        )
        pairs = pairs.unionByName(new_old)
    return {"pairs": pairs.distinct(), "band_index": all_bands}


def read_pairs(spark: SparkSession, _sf_dir: str, work: str) -> DataFrame:
    """The drained pair log, distinct. Partition discovery adds the
    batch_id dir key as a column; it is projected away so the result
    schema is exactly (doc_a, doc_b)."""
    return (
        spark.read.parquet(os.path.join(work, "pairs"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def run_incremental_over_dir(
    spark: SparkSession, staged_dir: str, work_dir: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Drain a staged directory of (doc_id, text) parquet files — one
    micro-batch per file — and return the drained pairs (distinct)."""
    step = functools.partial(lsh_step, max_bucket_size=max_bucket_size)
    schema = spark.read.parquet(staged_dir).schema
    fixtures.drain(
        spark, staged_dir, schema, step, work_dir, reads=("band_index",)
    )
    return read_pairs(spark, "", work_dir)


def _oracle():
    from ..operators.dedup import LSH_PAIRS_DUCK

    return LSH_PAIRS_DUCK


# The drained incremental result EQUALS the batch pipeline's pairs by
# the invariant above, so the batch DuckDB oracle (LSH_PAIRS_DUCK)
# hash-gates the whole streaming loop: micro-batch signature compute,
# index accumulation, new-vs-old/new-vs-new joins, exactly-once log.
TWIN = fixtures.Twin(
    "documents", ("doc_id", "text"), "doc_id",
    lsh_step, read_pairs, reads=("band_index",),
)
stage = TWIN.stage
QUERIES = {"docs_incremental_lsh_pairs": TWIN}
ORACLES = {"docs_incremental_lsh_pairs": _oracle()}
