"""Scratch lifecycle for materialized indexes (matcache.py): build-
once semantics, registered cleanup, and race-safe publication."""

from __future__ import annotations

import os

import pytest

from dataset_batch_processor_spark import matcache


def test_materialize_once_builds_once(spark):
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).toDF("v")

    a = matcache.materialize_once(spark, "t_once", "/k1", build)
    b = matcache.materialize_once(spark, "t_once", "/k1", build)
    assert len(calls) == 1
    assert a.count() == 5 and b.count() == 5


def test_materialize_once_lost_race_keeps_one_dir(spark, tmp_path, monkeypatch):
    """A build that itself publishes the same key makes the outer call
    lose the publication race: both calls scan the winner's directory,
    and the loser's is removed from disk and from the registry."""
    monkeypatch.setattr(matcache, "_SCRATCH_DIRS", [])
    monkeypatch.setattr(matcache, "_CACHE", {})
    matcache.set_scratch_root(str(tmp_path))
    try:
        inner = []

        def build():
            inner.append(matcache.materialize_once(
                spark, "t_race", "/k3", lambda: spark.range(3).toDF("v")
            ))
            return spark.range(3).toDF("v")

        outer = matcache.materialize_once(spark, "t_race", "/k3", build)
    finally:
        matcache.set_scratch_root(None)
    assert sorted(outer.inputFiles()) == sorted(inner[0].inputFiles())
    on_disk = [str(d) for d in tmp_path.glob("dbp_t_race_*")]
    assert len(on_disk) == 1 and matcache._SCRATCH_DIRS == on_disk
    assert all(f"{on_disk[0]}/" in f for f in outer.inputFiles())
    assert outer.count() == 3


def test_cleanup_scratch_removes_dirs_and_cache(spark):
    matcache.materialize_once(
        spark, "t_clean", "/k2", lambda: spark.range(3).toDF("v")
    )
    created = [d for d in matcache._SCRATCH_DIRS if "t_clean" in d]
    assert created and all(os.path.isdir(d) for d in created)
    matcache.cleanup_scratch()
    assert not matcache._SCRATCH_DIRS
    assert not matcache._CACHE
    assert all(not os.path.exists(d) for d in created)
    # a rebuild after cleanup works (cache was dropped, not wedged)
    again = matcache.materialize_once(
        spark, "t_clean", "/k2", lambda: spark.range(3).toDF("v")
    )
    assert again.count() == 3
    matcache.cleanup_scratch()


def test_cleanup_scratch_keeps_the_live_warehouse(spark):
    """cleanup_scratch() with a live session must not delete its
    warehouse: the next managed-table write would recreate it outside
    every registry, and it would outlive the process."""
    if os.environ.get("SPARK_GRAFT_WAREHOUSE"):
        pytest.skip("warehouse is deployment-managed")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    matcache.cleanup_scratch()
    assert os.path.isdir(wh)
    spark.range(3).write.saveAsTable("warehouse_probe")
    try:
        assert os.path.isdir(os.path.join(wh, "warehouse_probe"))
        assert wh in matcache._SESSION_DIRS
        assert wh not in matcache._SCRATCH_DIRS
    finally:
        spark.sql("DROP TABLE IF EXISTS warehouse_probe")


def test_scratch_root_override(spark, tmp_path):
    matcache.set_scratch_root(str(tmp_path))
    try:
        d = matcache.scratch_dir("dbp_rooted_")
        assert os.path.dirname(d) == str(tmp_path)
    finally:
        matcache.set_scratch_root(None)
        matcache.cleanup_scratch()


def test_format_roundtrips_leave_no_scratch_dir(spark, sf_dir, tmp_path, monkeypatch):
    """The four write -> read -> aggregate roundtrip queries stage their
    files through scratch_dir, so cleanup_scratch() removes them (raw
    mkdtemp left one copy of orders/lineitem in the temp dir per run).
    The scratch registry is swapped for an empty one so the cleanup
    removes nothing the shared session still uses."""
    import glob
    import tempfile

    from dataset_batch_processor_spark.sources import jsonl, tabular

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(matcache, "_SCRATCH_DIRS", [])
    monkeypatch.setattr(matcache, "_CACHE", {})
    queries = {**tabular.QUERIES, **jsonl.QUERIES}
    for name in ("csv_roundtrip_orders", "orc_roundtrip_lineitem",
                 "xml_roundtrip_orders", "jsonl_roundtrip_orders"):
        assert queries[name](spark, sf_dir).collect()
    assert glob.glob(str(tmp_path / "dbp_*_rt_*"))
    matcache.cleanup_scratch()
    assert not glob.glob(str(tmp_path / "dbp_*_rt_*"))
