"""Count-min sketch: streaming accumulation must merge to the exact
batch grid, and the estimate invariant must hold."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.operators import cms
from dataset_batch_processor_spark.streaming import fixtures


def test_streaming_grid_equals_batch(spark, sf_dir, tmp_path):
    events = catalog.load_table(spark, sf_dir, "events").select("user_id")

    stage = str(tmp_path / "stage")
    for part in range(3):
        events.filter(F.col("user_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(stage)

    fixtures.drain(
        spark, stage, events.schema, cms.cms_partial, str(tmp_path / "work")
    )

    streamed = {
        (r.row_idx, r.col): r.counter
        for r in cms.read_cms(
            spark, str(tmp_path / "work" / "commits")
        ).collect()
    }
    batch = {
        (r.row_idx, r.col): r.counter
        for r in cms.cms_partial(events).collect()
    }
    assert streamed == batch
    assert sum(batch.values()) == events.count() * cms.CMS_D


def test_estimate_never_underestimates(spark, sf_dir):
    rows = cms.QUERIES["events_cms_heavy_hitters"](spark, sf_dir).collect()
    assert rows
    assert all(r.never_underestimates for r in rows)
    assert all(r.est >= r.exact_cnt for r in rows)


def test_hist_streaming_merge_equals_batch(spark, sf_dir, tmp_path):
    from dataset_batch_processor_spark.operators import histsketch

    events = catalog.load_table(spark, sf_dir, "events").select("value")
    stage = str(tmp_path / "stage")
    for part in range(3):
        events.filter(
            (F.col("value") * 100).cast("bigint") % 3 == part
        ).coalesce(1).write.mode("append").parquet(stage)

    fixtures.drain(
        spark, stage, events.schema, histsketch.hist_partial,
        str(tmp_path / "work"),
    )

    streamed = {
        r.bin: r.n
        for r in histsketch.read_hist(
            spark, str(tmp_path / "work" / "commits")
        ).collect()
    }
    batch = {r.bin: r.n for r in histsketch.hist_partial(events).collect()}
    assert streamed == batch
    assert sum(batch.values()) == events.count()


def test_hist_quantile_matches_exact_within_bin(spark, sf_dir):
    """The histogram estimate must sit within one bin width of the
    exact percentile."""
    from dataset_batch_processor_spark.operators import histsketch

    events = catalog.load_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("events")
    est = {
        r.pct: r.value_estimate
        for r in spark.sql(histsketch.QUANTILES_SQL).collect()
    }
    exact = events.selectExpr(
        *[f"percentile(value, {p / 100}) AS p{p}" for p in histsketch.QS]
    ).collect()[0]
    for p in histsketch.QS:
        assert abs(est[p] - exact[f"p{p}"]) <= 2.0 / histsketch.BIN_SCALE


def test_production_hash_grid_is_valid_cms(spark, sf_dir):
    """The xxhash64 grid is a different (non-mergeable) hash family
    but the same sketch: identical total mass, and min-over-rows
    estimates still never underestimate."""
    events = catalog.load_table(spark, sf_dir, "events").select("user_id")
    grid = {
        (r.row_idx, r.col): r.counter
        for r in cms.cms_partial(events, production_hash=True).collect()
    }
    n = events.count()
    assert sum(grid.values()) == n * cms.CMS_D
    md5_grid = {
        (r.row_idx, r.col): r.counter
        for r in cms.cms_partial(events).collect()
    }
    assert grid != md5_grid  # genuinely a different family
