"""Round-15 additions: the prodhash-chain exact-dup fast path
(VERDICT r14 next #1), its J<1 threshold route, and the pct_rank
n=1 degenerate guard (ADVICE r14)."""

from __future__ import annotations

import pandas as pd

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.operators import dedup
from dataset_batch_processor_spark.plans import audit


def test_fingerprint_classes_equal_python_replay(spark, sf_dir):
    """doc_shingle_fingerprints' equivalence classes == a plain-Python
    reimplementation of "identical distinct shingle sets" (house
    replay style; no hashes compared, only the grouping)."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    planted = dedup.plant_exact_copies(docs)
    fps = {
        r.doc_id: r.f
        for r in dedup.doc_shingle_fingerprints(planted).collect()
    }
    # python replay of the distinct shingle set
    w, s = dedup.SHINGLE_W, dedup.SHINGLE_STRIDE
    texts = {r.doc_id: r.text for r in planted.collect()}
    py_sets = {
        d: frozenset(
            t[p:p + w] for p in range(0, max(len(t) - w + 1, 1), s)
        )
        for d, t in texts.items()
        if len(t) >= w
    }
    assert set(fps) == set(py_sets)
    # same-class iff same fingerprint, across every pair of docs that
    # share either side (full pairwise check is quadratic; group both
    # sides and compare the partitions)
    from collections import defaultdict

    by_fp, by_set = defaultdict(set), defaultdict(set)
    for d, f in fps.items():
        by_fp[f].add(d)
    for d, fs in py_sets.items():
        by_set[fs].add(d)
    assert sorted(map(sorted, by_fp.values())) == sorted(
        map(sorted, by_set.values())
    )


def test_prodhash_chain_fast_path_is_linear_shape(spark, sf_dir):
    """The gated J=1 chain must contain NO join at all — fingerprint
    groupBy + partitioned window only (the whole point of the r15
    rewrite), and pass the plan audit."""
    planted = dedup.plant_exact_copies(
        catalog.load_table(spark, sf_dir, "documents")
    )
    df = dedup.prodhash_chain_labels_df(planted)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert audit.audit_df(df) == []


def test_prodhash_chain_threshold_route_is_superset(spark, sf_dir):
    """jaccard_threshold_ppm < 1e6 runs the banded chain; at sf0.001
    every planted J=1 member must also be found by the near-dup route
    (J=1 pairs are guaranteed band collisions and fixture buckets are
    far below the cap)."""
    planted = dedup.plant_exact_copies(
        catalog.load_table(spark, sf_dir, "documents")
    )
    fast = {
        r.doc_id
        for r in dedup.prodhash_chain_labels_df(planted).collect()
    }
    near = {
        r.doc_id
        for r in dedup.prodhash_chain_labels_df(
            planted, jaccard_threshold_ppm=800_000
        ).collect()
    }
    assert fast and fast <= near


def test_pct_rank_single_row_is_zero(spark):
    """ADVICE r14: percent_rank over a 1-row partition is 0.0 by SQL
    semantics; the closed form (r-1)/(n-1) used to yield NaN."""
    from dataset_batch_processor_spark.operators import windows as w

    one = spark.createDataFrame(
        pd.DataFrame({"c_custkey": [7], "total_spent": [42.0], "r": [1]})
    )
    one.createOrReplaceTempView("_ntile_ranked")
    row = spark.sql(w._NTILE_FINAL_SPARK).collect()[0]
    assert row.pct_rank == 0.0 and row.cume == 1.0 and row.quartile == 1
