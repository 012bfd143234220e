"""Atomic snapshot publishing: crash invisibility, time travel."""

from __future__ import annotations

import os

from dataset_batch_processor_spark.sources import snapshots


def test_publish_read_time_travel(spark, tmp_path):
    table = str(tmp_path / "t")
    v1 = snapshots.publish_snapshot(
        spark.range(10).selectExpr("id", "id * 2 AS x"), table
    )
    v2 = snapshots.publish_snapshot(
        spark.range(25).selectExpr("id", "id * 3 AS x"), table
    )
    assert (v1, v2) == (1, 2)
    assert snapshots.read_snapshot(spark, table).count() == 25
    assert snapshots.read_snapshot(spark, table, version=1).count() == 10


def test_crashed_write_is_invisible(spark, tmp_path):
    table = str(tmp_path / "t")
    snapshots.publish_snapshot(spark.range(10), table)

    # simulate a crash BETWEEN data rename and manifest commit: a
    # full v=2 data dir exists but was never committed
    spark.range(99).write.parquet(os.path.join(table, "v=2"))
    assert snapshots.read_snapshot(spark, table).count() == 10
    assert snapshots.committed_versions(table) == [1]

    # the next publish must not reuse the orphan's version number
    v = snapshots.publish_snapshot(spark.range(7), table)
    assert v == 3  # skipped the orphan v=2
    assert snapshots.read_snapshot(spark, table).count() == 7
    # the orphan remains invisible even though it sits on disk
    assert snapshots.committed_versions(table) == [1, 3]


def test_streaming_micro_batches_publish_atomically(spark, tmp_path):
    """foreachBatch + publish_snapshot: every micro-batch lands as a
    committed version; readers see only whole batches, never a
    partial write."""
    src = str(tmp_path / "src")
    for part in range(3):
        spark.range(part * 10, part * 10 + 10).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    table = str(tmp_path / "table")

    def publish(batch_df, batch_id):
        snapshots.publish_snapshot(batch_df, table)

    q = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(publish)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    versions = snapshots.committed_versions(table)
    assert len(versions) == 3
    # each committed version is a complete 10-row batch
    for v in versions:
        assert snapshots.read_snapshot(spark, table, version=v).count() == 10
    # the union of all versions is the whole stream
    total = sum(
        snapshots.read_snapshot(spark, table, version=v).count()
        for v in versions
    )
    assert total == 30


def test_publish_raises_when_staging_lost(spark, tmp_path, monkeypatch):
    """A rename failure that is NOT a version collision must raise,
    not spin the version counter forever."""
    import pytest

    table = str(tmp_path / "t")
    real_rename = os.rename

    def sabotage(src, dst):
        if "_staging_" in src and "/v=" in dst:
            import shutil

            if os.path.exists(src):
                shutil.rmtree(src)  # another process removed the staging
            raise OSError(2, "No such file or directory", src)
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", sabotage)
    with pytest.raises(OSError):
        snapshots.publish_snapshot(spark.range(3), table)
