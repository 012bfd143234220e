"""Hot-bucket capping (dedup.lsh_pairs_df bucket cap): the worst-case
pair bound, and fixture-equivalence so the cap doesn't perturb the
pairs of small buckets.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.operators import dedup


def test_lsh_bucket_cap_bounds_pairs_and_keeps_small_buckets(spark, sf_dir):
    docs = catalog.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    # a boilerplate clique: 80 exact copies of one text under fresh ids
    boiler = spark.range(80).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.lit(
            "the quick brown fox jumps over the lazy dog "
            "pack my box with five dozen liquor jugs"
        ).alias("text"),
    )
    corpus = docs.unionByName(boiler)
    cap = 16
    uncapped = dedup.lsh_pairs_df(corpus)
    capped = dedup.lsh_pairs_df(corpus, max_bucket_size=cap)
    n_un, n_cap = uncapped.count(), capped.count()
    # the 80-doc clique alone is 3160 pairs; the cap removes it
    assert n_un - n_cap >= 3000
    # pairs NOT involving the boilerplate clique are untouched
    base_capped = capped.filter(
        (F.col("doc_a") < 10_000_000) & (F.col("doc_b") < 10_000_000)
    )
    base_uncapped = uncapped.filter(
        (F.col("doc_a") < 10_000_000) & (F.col("doc_b") < 10_000_000)
    )
    assert base_capped.exceptAll(base_uncapped).count() == 0
    assert base_uncapped.exceptAll(base_capped).count() == 0
