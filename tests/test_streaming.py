"""Structured Streaming: file-watch ingestion, watermarked rollup,
bounded-state dedup — driven with availableNow triggers."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.streaming import fixtures, watch


def _run_stream(writer, timeout_s=120):
    q = writer.start()
    q.awaitTermination(timeout_s)
    assert not q.isActive


def test_file_watch_text(spark, tmp_path):
    land = tmp_path / "landing"
    land.mkdir()
    (land / "a.txt").write_text("l1\nl2\n")
    (land / "b.txt").write_text("l3\n")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = watch.watch_text_folder(spark, str(land))
    assert stream.isStreaming
    _run_stream(watch.start_parquet_sink(stream, out, ckpt))
    got = {(r.input_file, r.value) for r in spark.read.parquet(out).collect()}
    assert got == {("a.txt", "l1"), ("a.txt", "l2"), ("b.txt", "l3")}

    # incremental semantics: a NEW file is picked up, old ones are not reread
    (land / "c.txt").write_text("l4\n")
    _run_stream(watch.start_parquet_sink(
        watch.watch_text_folder(spark, str(land)), out, ckpt))
    vals = sorted(r.value for r in spark.read.parquet(out).collect())
    assert vals == ["l1", "l2", "l3", "l4"]


def test_hourly_rollup_matches_batch(spark, sf_dir, tmp_path):
    """The streaming rollup over the events fixture (availableNow)
    must agree with the batch events_hourly aggregation."""
    ev_batch = catalog.load_events(spark, sf_dir)
    # FileStreamSource needs a DIRECTORY; expose the single events
    # parquet through a symlinked landing dir, with the nanos fix.
    import os

    evdir = tmp_path / "ev_landing"
    evdir.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", evdir / "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev_stream = catalog.normalize_event_ts(
        spark.readStream.schema(
            spark.read.parquet(f"{sf_dir}/events.parquet").schema
        ).parquet(str(evdir))
    )
    out, ckpt = str(tmp_path / "roll"), str(tmp_path / "roll_ckpt")
    # availableNow + append emits only windows closed by the final
    # watermark; with watermark=0 seconds every window closes at drain.
    _run_stream(watch.start_parquet_sink(
        watch.hourly_rollup(ev_stream, watermark="0 seconds"), out, ckpt))
    got = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    exp_rows = (
        ev_batch.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("s"))
        .collect()
    )
    expected = {(r.hour, r.event_type): (r.n, r.s) for r in exp_rows}
    # append mode drops the final (unclosed-by-data) windows per type;
    # everything emitted must match batch exactly, and coverage must be
    # nearly complete.
    assert got
    for key, v in got.items():
        assert expected[key] == v, key
    assert len(got) >= len(expected) - len({k[1] for k in expected})


def test_streaming_dedup_bounded_state(spark, tmp_path):
    land = tmp_path / "dl"
    land.mkdir()
    (land / "x.txt").write_text("dup\nuniq1\ndup\n")
    stream = (
        watch.watch_text_folder(spark, str(land))
        .withColumn("ts", F.current_timestamp())
    )
    deduped = watch.streaming_dedup_lines(stream)
    out, ckpt = str(tmp_path / "dd"), str(tmp_path / "dd_ckpt")
    _run_stream(watch.start_parquet_sink(deduped, out, ckpt))
    vals = sorted(r.value for r in spark.read.parquet(out).collect())
    assert vals == ["dup", "uniq1"]


def test_streaming_tile_geometry(spark, tmp_path):
    """The flagship batch operator applied to a STREAM: new image
    files landing in a watched folder flow through images_meta +
    tile_grid geometry via foreachBatch — same operators,
    incrementally (the reference has no incremental mode at all)."""
    import numpy as np

    from dataset_batch_processor_spark.multimodal import binary as mm
    from dataset_batch_processor_spark.operators.tiling import TileSpec, tile_grid
    from dataset_batch_processor_spark.sources import images as img_src

    land = tmp_path / "cam"
    land.mkdir()
    img = (np.arange(16 * 16 * 3, dtype=np.int64) % 251).astype(np.uint8)
    (land / "f1.png").write_bytes(mm.encode_rawrgb(img.reshape(16, 16, 3)))

    out = str(tmp_path / "geom")
    spec = TileSpec(tile_size=8, overlap_ratio=0.0)

    def process(batch_df, _bid):
        meta = img_src.valid_images(img_src.build_images_meta(batch_df))
        images = meta.selectExpr(
            "path AS image_id", "basename", "ext", "width", "height"
        )
        tile_grid(images, spec).write.mode("append").parquet(out)

    stream = watch.watch_binary_folder(spark, str(land), glob="*.png")
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 4  # 2x2 grid

    # second landing: only the new file is tiled (incremental)
    (land / "f2.png").write_bytes(mm.encode_rawrgb(img.reshape(16, 16, 3)))
    q = (
        watch.watch_binary_folder(spark, str(land), glob="*.png")
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 8


def test_stream_static_enrichment_broadcast(spark, tmp_path):
    """Each micro-batch joins the static dim via broadcast; the stream
    side never shuffles."""
    land = tmp_path / "enrich_landing"
    land.mkdir()
    (land / "a.txt").write_text("alpha\nbeta\n")
    dim = spark.createDataFrame(
        [("alpha", 1), ("beta", 2), ("gamma", 3)], "value string, code int"
    )
    stream = watch.watch_text_folder(spark, str(land))
    enriched = watch.enrich_with_dim(stream, dim, on="value")
    out, ckpt = str(tmp_path / "enrich_out"), str(tmp_path / "enrich_ck")
    _run_stream(watch.start_parquet_sink(enriched, out, ckpt))
    got = {(r.value, r.code) for r in spark.read.parquet(out).collect()}
    assert got == {("alpha", 1), ("beta", 2)}


def test_streaming_session_rollup_matches_batch(spark, sf_dir, tmp_path):
    """Streaming session windows (availableNow drain) agree with a
    batch session_window aggregation over the same events."""
    import os

    evdir = tmp_path / "sess_landing"
    evdir.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", evdir / "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    fix_ts = catalog.normalize_event_ts
    ev_stream = fix_ts(spark.readStream.schema(schema).parquet(str(evdir)))
    out, ckpt = str(tmp_path / "sess"), str(tmp_path / "sess_ckpt")
    _run_stream(watch.start_parquet_sink(
        watch.session_rollup(ev_stream, gap="30 minutes",
                             watermark="0 seconds"), out, ckpt))
    got = {
        (r.session_start, r.user_id): (r.n_events, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    ev_batch = fix_ts(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    )
    exp = {
        (r["session_window"]["start"], r.user_id): (r.n, r.s)
        for r in ev_batch.groupBy(
            F.session_window("ts", "30 minutes"), "user_id"
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("s"),
        ).collect()
    }
    assert got
    for key, v in got.items():
        assert exp[key] == v, key
    # append mode may hold back only sessions not closed by the data
    assert len(got) >= len(exp) * 0.9


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
    queries, which bench.py warms) are exactly the 13 foreachBatch
    twins, and each has a DuckDB oracle."""
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
