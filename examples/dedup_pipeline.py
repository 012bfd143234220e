"""End-to-end LLM training-data curation pipeline.

The full pre-training prep flow over the documents fixture, each
stage a round-1/round-2 operator, chained the way a production corpus
job would run them:

  1. clean     — strip markup / mask PII / normalize whitespace
  2. quality   — repetition metrics; drop degenerate docs
  3. dedup     — MinHash-LSH pairs -> connected components -> keep
                 one canonical doc per duplicate cluster
  4. split     — deterministic hash train/val assignment
  5. pack      — token-budget shard packing over the survivors

Usage: python examples/dedup_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.operators import (
    components,
    dedup,
    textclean,
    textops,
)
from dataset_batch_processor_spark.session import get_spark


def curate(spark, sf_dir: str, token_budget: int = 20_000):
    docs = catalog.load_table(spark, sf_dir, "documents")

    # 1. clean (JVM-only expression chain — no Python in the scan)
    cleaned = docs.select(
        "doc_id", "lang",
        textclean.clean_text(F.col("text")).alias("text"),
    )

    # 2. quality: drop docs that are mostly one repeated word
    ws = F.split("text", " ")
    scored = cleaned.withColumn(
        "dup_word_frac",
        1.0 - F.size(F.array_distinct(ws)) / F.size(ws).cast("double"),
    )
    kept = scored.filter(F.col("dup_word_frac") < 0.9).drop("dup_word_frac")

    # 3. dedup: candidate pairs -> clusters -> canonical survivors
    labels = components.connected_components(
        dedup.lsh_pairs_df(kept), src="doc_a", dst="doc_b"
    )
    survivors = components.dedup_survivors(kept, labels)

    # 4. deterministic split (hash-stable under corpus growth)
    split = survivors.withColumn(
        "split",
        F.when(
            F.expr(
                "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)"
                " AS BIGINT) % 100 < 90"
            ),
            F.lit("train"),
        ).otherwise(F.lit("val")),
    )

    # 5. shard packing via the scalable prefix sum
    sized = split.select(
        "doc_id", "split",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)"
            " AS BIGINT)"
        ).alias("h"),
    )
    packed = textops.exclusive_prefix_sum(
        sized, ["split", "h", "doc_id"], "n_tokens", out_col="tokens_before"
    )
    # the prefix sum is GLOBAL over (split, h, doc_id); rebase each
    # split's shard numbering to 0 by subtracting the split's starting
    # offset (a 2-row broadcast join — still no wide window)
    offsets = packed.groupBy("split").agg(
        F.min("tokens_before").alias("_start")
    )
    packed = packed.join(F.broadcast(offsets), "split").withColumn(
        "shard_id",
        F.floor((F.col("tokens_before") - F.col("_start")) / token_budget),
    )
    return packed.select("doc_id", "split", "n_tokens", "shard_id")


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("dedup_pipeline")
    out = curate(spark, sf_dir)
    stats = out.groupBy("split").agg(
        F.count("*").alias("docs"),
        F.countDistinct("shard_id").alias("shards"),
        F.sum("n_tokens").alias("tokens"),
    )
    stats.show()


if __name__ == "__main__":
    main()
