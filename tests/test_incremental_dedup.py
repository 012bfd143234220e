"""Incremental streaming LSH dedup (streaming/incremental.py).

The pinned invariant: incremental ingestion over ANY batch
partitioning of the corpus discovers exactly the batch pipeline's
candidate pairs, each pair exactly once.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.operators.dedup import lsh_pairs_df
from dataset_batch_processor_spark.streaming import incremental


def _dir(tmp_path, name: str) -> str:
    d = tmp_path / name
    d.mkdir()
    return str(d)


@pytest.fixture()
def staged(spark, sf_dir, tmp_path):
    """documents split into 3 parquet files by doc_id mod — arrival
    order deliberately interleaves dup partners across batches."""
    docs = catalog.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    stage = _dir(tmp_path, "inc_stage")
    for part in range(3):
        docs.filter(F.col("doc_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    return docs, stage


def test_incremental_equals_batch_pairs(spark, sf_dir, staged, tmp_path):
    docs, stage = staged
    work = _dir(tmp_path, "inc_work")
    inc = incremental.run_incremental_over_dir(spark, stage, work)
    inc_pairs = {(r.doc_a, r.doc_b) for r in inc.collect()}
    batch_pairs = {
        (r.doc_a, r.doc_b)
        for r in lsh_pairs_df(docs, max_bucket_size=None).collect()
    }
    assert inc_pairs == batch_pairs
    # exactly-once: the raw (pre-distinct) log has no duplicate pairs
    # even ACROSS batch partitions (each pair lives in exactly one
    # batch_id directory)
    raw = spark.read.parquet(os.path.join(work, "pairs")).select(
        "doc_a", "doc_b"
    )
    assert raw.count() == raw.distinct().count()


def test_incremental_single_batch_degenerates_to_batch(spark, sf_dir, tmp_path):
    docs = catalog.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    stage = _dir(tmp_path, "inc_one")
    docs.coalesce(1).write.parquet(stage, mode="append")
    work = _dir(tmp_path, "inc_onework")
    inc = incremental.run_incremental_over_dir(spark, stage, work)
    assert {(r.doc_a, r.doc_b) for r in inc.collect()} == {
        (r.doc_a, r.doc_b)
        for r in lsh_pairs_df(docs, max_bucket_size=None).collect()
    }


def test_streaming_emission_cap_bounds_saturated_buckets(spark, tmp_path):
    """Round 9: the streaming-side hot-bucket EMISSION cap. A
    clone-heavy corpus saturates its buckets once the accumulated
    size passes the cap — later batches stop emitting pairs for those
    buckets, so the candidate blowup is bounded; pairs emitted before
    saturation stand (documented: a stream cannot retract)."""
    clones = [(i, "the same boilerplate line repeated " * 3)
              for i in range(12)]
    docs = spark.createDataFrame(clones, "doc_id long, text string")
    stage = _dir(tmp_path, "inc_cap")
    for part in range(3):
        docs.filter(F.col("doc_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    work = _dir(tmp_path, "inc_capwork")
    inc = incremental.run_incremental_over_dir(
        spark, stage, work, max_bucket_size=4
    )
    capped = inc.count()
    work2 = _dir(tmp_path, "inc_uncapwork")
    inc2 = incremental.run_incremental_over_dir(spark, stage, work2)
    assert inc2.count() == 66  # C(12,2) uncapped
    # first batch (4 clones) fits the cap and emits its 6 pairs;
    # every later batch sees the accumulated bucket above the cap
    assert 0 < capped < 66
