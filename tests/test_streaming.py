"""Structured Streaming: the one availableNow drain behind the stream
twins, its scoped sizing and its replay semantics."""

from __future__ import annotations

import pytest

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.streaming import fixtures


def test_drain_sized_scopes_and_restores_shuffle_partitions(spark):
    """drain_sized must apply DRAIN_PARTITIONS only inside the drain
    scope and restore the session default on normal AND error exit, so
    a failed drain can't leak micro-batch sizing into the session."""
    from dataset_batch_processor_spark.streaming import fixtures

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with fixtures.drain_sized(spark):
        assert (
            spark.conf.get("spark.sql.shuffle.partitions")
            == fixtures.DRAIN_PARTITIONS
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    try:
        with fixtures.drain_sized(spark):
            raise RuntimeError("mid-drain failure")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


STREAM_TWINS = {
    "docs_incremental_lsh_pairs",
    "docs_stream_canary_card",
    "docs_stream_conv_validation",
    "docs_stream_drift_monitor",
    "docs_stream_hll_card",
    "docs_stream_margin_hist",
    "docs_stream_passk",
    "docs_stream_quality_admission",
    "docs_stream_quota_sample",
    "docs_stream_turn_admission",
    "events_cms_streaming_counters",
    "events_hist_streaming",
    "events_stream_heavy_hitters",
}


def test_every_stream_twin_runs_through_the_drain():
    """The twins the drain knows about (the registered ``Twin``
    queries, whose staging warmset.warm builds) are exactly the 13
    foreachBatch twins, and each has a DuckDB oracle."""
    import __spark_entry__ as entrymod

    twins = {
        name for name, fn in entrymod.queries().items()
        if isinstance(fn, fixtures.Twin)
    }
    assert twins == STREAM_TWINS
    oracles = entrymod.oracle_sql()
    assert all(name in oracles for name in twins)


def _batch_answer(spark, sf_dir: str, name: str) -> set:
    docs = catalog.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    if name == "docs_incremental_lsh_pairs":
        from dataset_batch_processor_spark.operators.dedup import lsh_pairs_df

        return {
            (r.doc_a, r.doc_b)
            for r in lsh_pairs_df(docs, max_bucket_size=None).collect()
        }
    from dataset_batch_processor_spark.operators import chat

    docs.createOrReplaceTempView("replay_docs")
    turns = spark.sql(
        f"WITH {chat.toks_spark('replay_docs')},\n"
        f"{chat.turns_spark('replay_docs')}\n"
        "SELECT DISTINCT md5(content) AS digest, CAST(length(content)"
        " - length(replace(content, ' ', '')) + 1 AS INT) AS n_tokens"
        " FROM turns"
    )
    return {tuple(r) for r in turns.collect()}


@pytest.mark.parametrize(
    "name", ["docs_incremental_lsh_pairs", "docs_stream_turn_admission"]
)
def test_dual_sink_twin_replay_after_sinks_committed(
    spark, sf_dir, tmp_path, name
):
    """Kill after both sinks of the last batch committed but before
    the checkpoint did: the restarted drain replays that batch with
    the same id, and the result still equals the batch answer."""
    import __spark_entry__ as entrymod

    twin = entrymod.queries()[name]
    work = str(tmp_path / "work")

    def drain():
        schema = twin.frame(spark, sf_dir).schema
        staged = twin.stage(spark, sf_dir)
        fixtures.drain(spark, staged, schema, twin.step, work, twin.reads)
        return twin.merge(spark, sf_dir, work)

    drain()
    (tmp_path / "work" / "checkpoint" / "commits" / "1").unlink()
    (tmp_path / "work" / "checkpoint" / "commits" / ".1.crc").unlink()

    rows = [tuple(r) for r in drain().collect()]
    assert len(rows) == len(set(rows))
    assert set(rows) == _batch_answer(spark, sf_dir, name)
