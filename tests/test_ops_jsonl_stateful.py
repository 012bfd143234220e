"""Cancellation handle, JSONL paths."""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F

from dataset_batch_processor_spark import ops
from dataset_batch_processor_spark.sources import jsonl


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
