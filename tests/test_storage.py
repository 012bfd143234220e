"""Salted aggregation and joins, and the skew audit -> strategy wiring."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataset_batch_processor_spark.sources import storage


def test_salted_aggregate_matches_plain(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    salted = storage.salted_aggregate(
        li,
        ["l_returnflag"],
        {"n": "count(*)", "total_qty": "sum(l_quantity)",
         "min_qty": "min(l_quantity)", "max_qty": "max(l_quantity)"},
        salt_from=["l_orderkey", "l_linenumber"],
        n_salts=8,
    )
    plain = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").alias("total_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )
    s = {r.l_returnflag: (r.n, r.total_qty, r.min_qty, r.max_qty)
         for r in salted.collect()}
    p = {r.l_returnflag: (r.n, r.total_qty, r.min_qty, r.max_qty)
         for r in plain.collect()}
    assert set(s) == set(p)
    for k in p:
        assert s[k][0] == p[k][0] and s[k][2] == p[k][2] and s[k][3] == p[k][3]
        assert abs(s[k][1] - p[k][1]) < 1e-6


def test_salted_rejects_non_decomposable(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    with pytest.raises(ValueError):
        storage.salted_aggregate(
            li, ["l_returnflag"], {"m": "median(l_quantity)"},
            salt_from=["l_orderkey"],
        )


def test_salted_join_matches_plain(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    salted = storage.salted_join(li, orders, "l_orderkey", n_salts=8)
    plain = li.join(orders, "l_orderkey")
    assert salted.count() == plain.count()
    s = {(r.l_orderkey, r.l_partkey, r.o_totalprice)
         for r in salted.collect()}
    p = {(r.l_orderkey, r.l_partkey, r.o_totalprice)
         for r in plain.collect()}
    assert s == p


def test_choose_join_strategy_picks_each_branch():
    """Driver-side decision table: each synthetic skew profile lands
    on its intended branch."""
    from dataset_batch_processor_spark.sources.storage import (
        choose_join_strategy,
    )

    # small dim side -> broadcast regardless of skew
    assert choose_join_strategy(
        {"max_skew_factor": 400.0, "build_rows": 10_000}
    ) == "broadcast"
    # heavy skew, big build side -> salt
    assert choose_join_strategy(
        {"max_skew_factor": 64.0, "build_rows": 50_000_000}
    ) == "salted"
    # moderate skew, big build side -> leave it to AQE
    assert choose_join_strategy(
        {"max_skew_factor": 8.0, "build_rows": 50_000_000}
    ) == "aqe"
    # uniform keys, big build side -> plain shuffle join
    assert choose_join_strategy(
        {"max_skew_factor": 1.2, "build_rows": 50_000_000}
    ) == "plain"
    # unknown build size: decide on skew alone
    assert choose_join_strategy({"max_skew_factor": 1.0}) == "plain"
    assert choose_join_strategy({"max_skew_factor": 100.0}) == "salted"


def test_join_skew_report_and_apply(spark, sf_dir):
    """End-to-end: audit lineitem⋈part, act on the report, and the
    chosen strategy returns the same rows as a plain join."""
    from pyspark.sql import functions as F

    from dataset_batch_processor_spark import catalog
    from dataset_batch_processor_spark.sources.storage import (
        apply_join_strategy,
        choose_join_strategy,
        join_skew_report,
    )

    li = catalog.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = catalog.load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name"
    ).withColumnRenamed("p_partkey", "l_partkey")

    report = join_skew_report(li, "l_partkey", build=part)
    assert report["total"] > 0 and report["n_keys"] > 0
    assert report["max_skew_factor"] >= 1.0
    strategy = choose_join_strategy(report)
    assert strategy == "broadcast"  # fixture part table is tiny

    joined = apply_join_strategy(li, part, "l_partkey", strategy)
    plain = li.join(part, "l_partkey")
    assert joined.count() == plain.count()
    # forced-salted path agrees too (the expensive branch exercised)
    salted = apply_join_strategy(li, part, "l_partkey", "salted", n_salts=4)
    assert salted.count() == plain.count()
