"""LSH candidate-growth study: fixed vs adaptive plane count.

Amplifies the sf0.1 embeddings (2000 vectors) by 1x/10x/100x with a
deterministic perturbation, then measures expected probe-candidate
cost (= mean occupied-bucket size weighted by probe probability,
i.e. sum(bucket^2)/n) under (a) the fixed 8-plane oracle config and
(b) adaptive_n_planes. Results feed SCALE.md's scale ledger: fixed
planes -> candidates grow linearly with n; adaptive planes -> ~flat.

Usage: python tools/lsh_growth_study.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dataset_batch_processor_spark.operators import similarity
from dataset_batch_processor_spark.session import get_spark


def amplified(spark, factor: int):
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    if factor == 1:
        return emb
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    return (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: x + (F.col("rep") % 7).cast("float") * F.lit(0.013),
            ).alias("embedding"),
        )
    )


def probe_cost(emb, n_planes: int) -> dict:
    bucketed = emb.select(
        similarity.lsh_signature(F.col("embedding"), n_planes).alias("bucket")
    )
    stats = (
        bucketed.groupBy("bucket")
        .count()
        .agg(
            F.count("*").alias("occupied"),
            F.avg("count").alias("mean_sz"),
            (F.sum(F.col("count") * F.col("count")) / F.sum("count")).alias(
                "expected_probe_candidates"
            ),
        )
        .collect()[0]
    )
    return {
        "n_planes": n_planes,
        "occupied_buckets": stats.occupied,
        "mean_bucket": round(stats.mean_sz, 1),
        "expected_probe_candidates": round(stats.expected_probe_candidates, 1),
    }


def main():
    spark = get_spark("lsh_growth")
    for factor in (1, 10, 100):
        emb = amplified(spark, factor).persist()
        n = emb.count()
        fixed = probe_cost(emb, similarity.N_PLANES)
        adaptive = probe_cost(emb, similarity.adaptive_n_planes(n))
        emb.unpersist()
        print(json.dumps({"n": n, "fixed": fixed, "adaptive": adaptive}))


if __name__ == "__main__":
    main()
