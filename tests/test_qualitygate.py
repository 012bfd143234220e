"""Streaming quality admission: batch parity and retry idempotence."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.streaming import qualitygate


def test_streamed_equals_batch(spark, sf_dir):
    streamed = {
        r.source: (r.n_seen, r.n_admitted, r.admit_ppm)
        for r in qualitygate.QUERIES["docs_stream_quality_admission"](
            spark, sf_dir
        ).collect()
    }
    docs = catalog.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    batch = {
        r.source: (r.n_seen, r.n_admitted)
        for r in qualitygate.admission_partial(docs).collect()
    }
    assert set(streamed) == set(batch)
    for src, (seen, adm) in batch.items():
        assert streamed[src][0] == seen
        assert streamed[src][1] == adm
        assert streamed[src][2] == adm * 1_000_000 // seen


def test_retried_batch_does_not_double_count(spark, sf_dir, tmp_path):
    docs = catalog.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    shard = docs.filter(F.col("doc_id") % 3 == 0)
    commits = str(tmp_path / "commits")
    out = os.path.join(commits, "batch_id=0")
    # first attempt, then a "retry" of the same batch id
    qualitygate.admission_partial(shard).write.mode("overwrite").parquet(out)
    before = {
        r.source: r.n_seen
        for r in qualitygate.read_admission(spark, commits).collect()
    }
    qualitygate.admission_partial(shard).write.mode("overwrite").parquet(out)
    after = {
        r.source: r.n_seen
        for r in qualitygate.read_admission(spark, commits).collect()
    }
    assert before == after
