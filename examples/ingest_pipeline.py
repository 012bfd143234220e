"""Continuous corpus ingest: grow a versioned corpus atomically.

The day-2 flow a production corpus runs forever: a batch of NEW
documents arrives, is deduped against everything already published,
and the survivors land as a new atomic snapshot version — readers
always see a complete, deduped corpus at some version, never a
partial merge.

  1. read    — current corpus = latest committed snapshot
  2. exact   — drop arrivals whose md5(text) already exists
               (broadcast-able anti join on the hash)
  3. near    — drop arrivals whose MinHash bands collide with the
               existing corpus AND verify >= Jaccard threshold
               (new-vs-old candidates only — the incremental-LSH
               join shape, batch form)
  4. publish — union survivors with the corpus, publish_snapshot

Usage: python examples/ingest_pipeline.py [sf_dir] [table_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.operators import dedup
from dataset_batch_processor_spark.session import get_spark
from dataset_batch_processor_spark.sources import snapshots

JACCARD_T = 0.5


def ingest_batch(
    spark: SparkSession, corpus_table: str, arrivals: DataFrame
) -> tuple[int, dict]:
    """Dedup ``arrivals`` against the latest committed corpus version
    and publish the merged corpus as a new version. Returns
    (new_version, stats)."""
    corpus = snapshots.read_snapshot(spark, corpus_table)

    # 2. exact dedup: anti join on content hash
    have = corpus.select(F.md5("text").alias("text_md5")).distinct()
    fresh = (
        arrivals.withColumn("text_md5", F.md5("text"))
        .join(have, "text_md5", "left_anti")
        .drop("text_md5")
        .persist()
    )
    n_exact_dropped = arrivals.count() - fresh.count()

    # 3. near-dup: new-vs-old band collisions, Jaccard-verified.
    # Bands for BOTH sides; candidates = equi-join on (band, bucket)
    # restricted to new x old — never old x old (that work is already
    # paid in prior versions).
    old_bands = dedup.lsh_bands_df(dedup.minhash_signatures_df(corpus))
    new_bands = dedup.lsh_bands_df(dedup.minhash_signatures_df(fresh))
    cand = (
        new_bands.alias("n")
        .join(
            old_bands.alias("o"),
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.bucket") == F.col("o.bucket")),
        )
        .select(
            F.col("n.doc_id").alias("doc_a"),
            F.col("o.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    both = fresh.select("doc_id", "text").unionByName(
        corpus.select("doc_id", "text")
    )
    verified = dedup.jaccard_verify_df(both, pairs=cand)
    near_dup_ids = (
        verified.filter(F.col("jaccard") >= JACCARD_T)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    survivors = fresh.join(near_dup_ids, "doc_id", "left_anti").persist()
    n_near_dropped = fresh.count() - survivors.count()

    # 4. atomic publish of the merged corpus
    merged = corpus.unionByName(survivors.select(*corpus.columns))
    version = snapshots.publish_snapshot(merged, corpus_table)
    stats = {
        "arrivals": int(arrivals.count()),
        "exact_dropped": int(n_exact_dropped),
        "near_dropped": int(n_near_dropped),
        "ingested": int(survivors.count()),
        "corpus_rows": int(merged.count()),
    }
    fresh.unpersist()
    survivors.unpersist()
    return version, stats


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    table = sys.argv[2] if len(sys.argv) > 2 else "/tmp/dbp_corpus"
    spark = get_spark("ingest_pipeline")
    docs = catalog.load_table(spark, sf_dir, "documents")

    # bootstrap v1 with the even docs, then ingest the odds in two
    # waves (some of which near-duplicate the existing corpus)
    snapshots.publish_snapshot(docs.filter(F.col("doc_id") % 2 == 0), table)
    for wave in (1, 3):
        arrivals = docs.filter(F.col("doc_id") % 4 == wave)
        v, stats = ingest_batch(spark, table, arrivals)
        print(f"v{v}: {stats}")


if __name__ == "__main__":
    main()
