"""Image near-dup dHash: the hot-band cap bounds the candidate join."""

from __future__ import annotations

from dataset_batch_processor_spark.operators import imagedup


def test_hot_band_cap_bounds_candidates(spark):
    """A degenerate corpus (every image the same base pattern, so all
    signatures share band values) must not explode the candidate join
    when the cap is engaged."""
    # 80 docs all with g = doc_id % 250 == 0: one mega-band family
    spark.range(0, 80).selectExpr("id * 250 AS doc_id").createOrReplaceTempView(
        "documents"
    )
    full = spark.sql(imagedup._pairs_sql("spark")).count()
    capped = spark.sql(
        imagedup._pairs_sql("spark", max_band_size=5)
    ).count()
    assert full > 1000  # the uncapped join really does explode
    assert capped < full
