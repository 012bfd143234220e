"""Cancellation handle, JSONL paths, stateful streaming."""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F

from dataset_batch_processor_spark import ops
from dataset_batch_processor_spark.sources import jsonl
from dataset_batch_processor_spark.streaming import stateful


def test_cancellable_run_completes(spark):
    h = ops.run_cancellable(
        spark, lambda: spark.range(1000).agg(F.sum("id")).collect()[0][0]
    )
    h.join(60)
    assert h.done and h.result["value"] == 499500


def test_cancellable_run_stops(spark):
    # a job big enough to still be running when stop() lands
    def slow():
        return (
            spark.range(0, 2_000_000_000, 1, 64)
            .selectExpr("sum(sha2(cast(id as string), 256)) as s")
            .collect()
        )

    h = ops.run_cancellable(spark, slow)
    time.sleep(2)
    h.stop()
    h.join(60)
    assert h.done
    assert "error" in h.result  # cancelled, captured, not raised


def test_read_jsonl_with_quarantine(spark, tmp_path):
    p = tmp_path / "data.jsonl"
    lines = [json.dumps({"a": i, "b": f"x{i}"}) for i in range(5)]
    lines.insert(2, "{not valid json")
    p.write_text("\n".join(lines) + "\n")
    # explicit schema incl. _corrupt so PERMISSIVE captures bad rows
    df = jsonl.read_jsonl(spark, str(p), schema="a long, b string, _corrupt string")
    assert df.filter(F.col("a").isNotNull()).count() == 5
    bad = jsonl.jsonl_quarantine(df).collect()
    assert len(bad) == 1 and bad[0]._corrupt.startswith("{not valid")


def test_split_jsonl_preserves_bytes(spark, tmp_path):
    d = tmp_path / "jl"
    d.mkdir()
    raw = [json.dumps({"k": i, "weird":  f"  spaced  {i}"}) for i in range(6)]
    (d / "f.jsonl").write_text("\n".join(raw) + "\n")
    out = jsonl.split_jsonl_preserving_lines(spark, str(d), records_per_file=4)
    rows = out.collect()
    assert {r.file_id for r in rows} == {0, 1}
    # byte-faithful: every output line is exactly an input line
    assert {r.value for r in rows} == set(raw)


def test_split_jsonl_does_not_join_its_input_back(spark, tmp_path):
    """split_chunks carries ``value`` through the row numbering, so the
    only join left in the optimized plan is attach_rank's broadcast of
    the per-partition offsets."""
    d = tmp_path / "jl"
    d.mkdir()
    (d / "f.jsonl").write_text("".join(f'{{"k": {i}}}\n' for i in range(6)))
    out = jsonl.split_jsonl_preserving_lines(spark, str(d), records_per_file=4)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    joins = [ln for ln in plan.splitlines() if "Join " in ln]
    assert len(joins) == 1, plan
    assert "_pid" in joins[0]


def test_stateful_running_counts(spark, tmp_path):
    land = tmp_path / "ev"
    land.mkdir()
    rows1 = [{"user_id": 1, "event_type": "a", "ts": "2024-01-01T00:00:00"},
             {"user_id": 1, "event_type": "b", "ts": "2024-01-01T00:01:00"},
             {"user_id": 2, "event_type": "c", "ts": "2024-01-01T00:02:00"}]
    (land / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in rows1) + "\n")
    stream = (
        spark.readStream.schema("user_id long, event_type string, ts string")
        .json(str(land))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    ckpt = str(tmp_path / "ck")
    out1, out2 = str(tmp_path / "out1"), str(tmp_path / "out2")

    def run_batch(sink_path):
        # update-mode stateful output -> foreachBatch parquet append
        # (checkpoint-recoverable, unlike the memory sink)
        q = (
            stateful.running_user_counts(stream)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(sink_path)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch(out1)
    got = {r.user_id: r.n_events_total for r in spark.read.parquet(out1).collect()}
    assert got == {1: 2, 2: 1}

    # second micro-batch: state carries across RESTARTS via checkpoint
    rows2 = [{"user_id": 1, "event_type": "d", "ts": "2024-01-01T00:05:00"}]
    (land / "b2.jsonl").write_text("\n".join(json.dumps(r) for r in rows2) + "\n")
    run_batch(out2)
    got2 = {r.user_id: r.n_events_total for r in spark.read.parquet(out2).collect()}
    assert got2 == {1: 3}  # 2 (restored state) + 1 new event
