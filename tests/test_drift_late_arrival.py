"""Streaming drift monitor: late-shard arrival pin (VERDICT r9 next
#6). A shard that lands AFTER the dashboard was already read must be
fully reflected by the next read — read_drift recomputes TV from the
merged partials, so merge-on-read has to make the report a pure
function of the drained corpus, independent of arrival order. Three
pins: (1) the early snapshot visibly lacks the late shard, (2) the
final report changes for ALREADY-REPORTED shards too (the corpus
histogram moved), (3) reversed arrival order produces the identical
final report, equal to the DuckDB direct computation."""

from __future__ import annotations

import duckdb

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.streaming import driftmon, fixtures

SF = "/root/testdata/sf0.001"


def _drain(spark, stage: str, work: str) -> str:
    """Drain ``stage`` into ``work`` (the same work dir resumes its
    checkpoint); returns the commits directory."""
    schema = spark.read.parquet(stage).schema
    fixtures.drain(spark, stage, schema, driftmon.drift_partial, work)
    return f"{work}/commits"


def _report(spark, commits: str):
    return sorted(
        (
            r["shard_id"],
            r["n_docs"],
            r["tv_vs_corpus_ppm"],
            r["max_bucket_gap_ppm"],
        )
        for r in driftmon.read_drift(spark, commits).collect()
    )


def test_late_shard_is_merged_on_read(spark, tmp_path):
    docs = catalog.load_table(spark, SF, "documents").select(
        "doc_id", "n_chars"
    )
    # shard ids come from the monitor's own doc_id % N_SHARDS key; the
    # highest shard arrives late (shard-count-agnostic since round 15)
    n = driftmon.N_SHARDS
    early_ids = set(range(n - 1))
    early = docs.filter(f"doc_id % {n} != {n - 1}")
    late = docs.filter(f"doc_id % {n} = {n - 1}")

    stage = str(tmp_path / "stage")
    work = str(tmp_path / "work")
    early.coalesce(1).write.mode("overwrite").parquet(stage)
    commits = _drain(spark, stage, work)
    snap1 = _report(spark, commits)
    assert {s for s, *_ in snap1} == early_ids  # late shard not arrived

    # the late shard lands; the SAME checkpointed stream drains only
    # the new file (batch ids continue — no partial is overwritten)
    late.coalesce(1).write.mode("append").parquet(stage)
    _drain(spark, stage, work)
    final = _report(spark, commits)
    assert {s for s, *_ in final} == set(range(n))
    # already-reported shards' TV moved: the corpus histogram now
    # includes the late shard, so merge-on-read recomputed — not cached
    snap1_map = {s: (tv, gap) for s, _, tv, gap in snap1}
    final_map = {s: (tv, gap) for s, _, tv, gap in final}
    assert any(snap1_map[s] != final_map[s] for s in early_ids)

    # reversed arrival order → byte-identical final report
    stage2 = str(tmp_path / "stage2")
    work2 = str(tmp_path / "work2")
    late.coalesce(1).write.mode("overwrite").parquet(stage2)
    commits2 = _drain(spark, stage2, work2)
    early.coalesce(1).write.mode("append").parquet(stage2)
    _drain(spark, stage2, work2)
    assert _report(spark, commits2) == final

    # and equal to the independent DuckDB direct computation
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{SF}/documents.parquet')"
    )
    exp = sorted(tuple(r) for r in con.execute(
        driftmon.STREAM_DRIFT_DUCK
    ).fetchall())
    con.close()
    assert final == exp
