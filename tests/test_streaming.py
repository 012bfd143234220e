"""Structured Streaming: the one availableNow drain behind the stream
twins, the one memory-sink runner behind the stateful stream queries,
their scoped sizing and the drain's replay semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.streaming import batchcheck, fixtures


def test_shuffle_partitions_scopes_and_restores(spark):
    """catalog.shuffle_partitions (the drain's and the stateful
    runner's sizing) must apply its width only inside the scope and
    restore the session value on normal AND error exit, so a failed
    drain can't leak micro-batch sizing into the session."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with catalog.shuffle_partitions(spark, fixtures.DRAIN_PARTITIONS):
        assert (
            spark.conf.get("spark.sql.shuffle.partitions")
            == fixtures.DRAIN_PARTITIONS
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    try:
        with catalog.shuffle_partitions(spark, fixtures.DRAIN_PARTITIONS):
            raise RuntimeError("mid-drain failure")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


@pytest.mark.parametrize("name", sorted(batchcheck.QUERIES))
def test_stateful_stream_query_leaves_no_session_state(spark, sf_dir, name):
    """A memory-sink stream query leaves the session as it found it:
    no sink view, no active stream, no persisted RDD, and the confs it
    reads (nanos-as-long, shuffle width) unchanged."""
    keys = ("spark.sql.legacy.parquet.nanosAsLong",
            "spark.sql.shuffle.partitions")

    def state():
        return (
            sorted(t.name for t in spark.catalog.listTables()),
            spark.sparkContext._jsc.getPersistentRDDs().size(),
            [spark.conf.get(k) for k in keys],
        )

    before = state()
    batchcheck.QUERIES[name](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    assert state() == before
    assert not spark.streams.active


def test_nanos_event_ts_floors_in_batch_and_stream(spark, tmp_path):
    """events.ts stored as TIMESTAMP(NANOS) reads as long (a session
    conf) and is floored to micros, the same in the batch loader and
    the stream runner: 00:59:59.999999999 stays in hour 00."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z in ns
    ts = [base + 1_999, base + 3_599_999_999_999, base + 3_600_000_000_000]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns", tz="UTC")),
            "user_id": pa.array([7, 7, 7], pa.int64()),
            "event_type": ["click", "click", "purchase"],
            "value": [1.0, 2.0, 4.0],
        }),
        tmp_path / "events.parquet", version="2.6",
    )
    raw = spark.read.parquet(str(tmp_path / "events.parquet"))
    assert dict(raw.dtypes)["ts"] == "bigint"
    events = catalog.load_events(spark, str(tmp_path))
    assert dict(events.dtypes)["ts"] == "timestamp"
    assert [r[0] for r in events.select(F.unix_micros("ts")).collect()] == [
        t // 1000 for t in ts
    ]
    hourly = batchcheck.streaming_hourly_events(spark, str(tmp_path))
    assert [tuple(r) for r in hourly.collect()] == [
        ("2024-01-01 00:00:00", "click", 2, 3.0),
        ("2024-01-01 01:00:00", "purchase", 1, 4.0),
    ]


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
