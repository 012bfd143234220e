"""Streaming turn-dedup admission: exactly-once and order-freedom.
Two different arrival orders must admit the IDENTICAL digest set (the
gated, order-free view), every digest exactly once, and the lineage
log's admitted copy must always be a real first-arrival: admitted in
the earliest batch whose shard contains the digest."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.streaming import fixtures, turndedup

SF = "/root/testdata/sf0.001"


def _stage(spark, tmp_path, name, parts):
    docs = catalog.load_table(spark, SF, "documents").select("doc_id", "text")
    stage = str(tmp_path / name)
    for p in parts:
        docs.filter(F.col("doc_id") % 3 == p).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    return stage


def test_admission_exactly_once_and_order_free(spark, tmp_path):
    s1 = _stage(spark, tmp_path, "s1", (0, 1, 2))
    r1 = turndedup.run_turn_admission_over_dir(
        spark, s1, str(tmp_path / "w1")
    )
    rows1 = sorted((r["digest"], r["n_tokens"]) for r in r1.collect())
    # exactly-once: no digest admitted twice
    assert len({d for d, _ in rows1}) == len(rows1)

    s2 = _stage(spark, tmp_path, "s2", (2, 0, 1))  # reversed-ish order
    r2 = turndedup.run_turn_admission_over_dir(
        spark, s2, str(tmp_path / "w2")
    )
    rows2 = sorted((r["digest"], r["n_tokens"]) for r in r2.collect())
    assert rows1 == rows2

    # the admitted copy is a genuine first-arrival: for every digest,
    # no batch EARLIER than the admitting one contains it
    log = turndedup.admitted_log(spark, str(tmp_path / "w1")).collect()
    admitted_batch = {r["digest"]: r["batch_id"] for r in log}
    # shard p arrives as batch p in s1 (one file per part, in order)
    catalog.load_table(spark, SF, "documents").createOrReplaceTempView(
        "documents"
    )
    all_turns = spark.sql(
        "WITH "
        + turndedup.chat.toks_spark("documents")
        + ",\n"
        + turndedup.chat.turns_spark("documents")
        + " SELECT doc_id % 3 AS shard, md5(content) AS digest FROM turns"
    )
    first_shard = {
        r["digest"]: r["fs"]
        for r in all_turns.groupBy("digest")
        .agg(F.min("shard").alias("fs"))
        .collect()
    }
    assert set(admitted_batch) == set(first_shard)
    for d, b in admitted_batch.items():
        assert b == first_shard[d], d


def test_batch_retry_is_idempotent(spark, tmp_path):
    """The at-least-once failure scenario: a micro-batch that
    committed its partitions but died before the checkpoint offset
    commit gets REPLAYED. The replay must reproduce its own admitted
    set byte-identically — not anti-join against its own prior commit
    and wipe it."""
    docs = catalog.load_table(spark, SF, "documents").select(
        "doc_id", "text"
    )
    work = str(tmp_path / "work")
    admitted_dir = str(tmp_path / "work" / "admitted")

    def commit(batch, batch_id):
        fixtures.commit_batch(
            batch, batch_id, work, turndedup.admit_step,
            reads=("digest_index",),
        )

    b0 = docs.filter("doc_id % 3 = 0")
    b1 = docs.filter("doc_id % 3 = 1")
    commit(b0, 0)
    commit(b1, 1)

    def snap():
        return sorted(
            (r["batch_id"], r["digest"])
            for r in spark.read.parquet(admitted_dir)
            .select("batch_id", "digest")
            .collect()
        )

    before = snap()
    assert any(b == 1 for b, _ in before)  # batch 1 admitted something
    # replay batch 1 (same input, same id) — the retry
    commit(b1, 1)
    assert snap() == before
    # and a genuinely NEW batch still dedups against history
    commit(docs.filter("doc_id % 3 = 2"), 2)
    after = spark.read.parquet(admitted_dir).select("digest")
    assert after.count() == after.distinct().count()
