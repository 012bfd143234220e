"""SemDeDup: keep-rule semantics on a hand-built cluster fixture and
the oversized-cluster sub-split bound. The numeric path is proven by
the driver oracle (emb_semdedup_survivors); these tests pin the parts
a value hash can't see: WHICH member survives and why, and that the
cap actually bounds the candidate join."""

from __future__ import annotations

import numpy as np
import pytest

from dataset_batch_processor_spark.operators import semdedup


def _emb_df(spark, rows):
    # rows: (vec_id, embedding list)
    return spark.createDataFrame(
        [(int(i), [float(x) for x in e]) for i, e in rows],
        "vec_id long, embedding array<double>",
    )


def _unit(*v):
    a = np.array(v, dtype=float)
    return (a / np.linalg.norm(a)).tolist()


@pytest.fixture(scope="module")
def fixture_emb(spark):
    # one centroid (vec_id 0) so every vector lands in its cluster.
    # vectors 1,2,3 are a duplicate chain near the centroid axis with
    # strictly increasing centroid similarity; vector 4 is orthogonal
    # (no duplicates).
    rows = [
        (0, _unit(1, 0, 0, 0)),
        (1, _unit(1, 0.30, 0, 0)),   # least centroid-similar dup
        (2, _unit(1, 0.20, 0, 0)),
        (3, _unit(1, 0.10, 0, 0)),   # most centroid-similar dup
        (4, _unit(0, 0, 1, 0)),
    ]
    return _emb_df(spark, rows)


def test_keeps_least_centroid_similar_member(spark, fixture_emb):
    out = semdedup.semdedup_survivors(fixture_emb, eps=0.95, centroid_mod=7)
    rows = {r["vec_id"]: r.asDict() for r in out.collect()}
    # 1,2,3 are mutual duplicates (pairwise cos > 0.95); the paper's
    # rule keeps the member farthest from the centroid — vector 1 —
    # and drops 2 and 3. 0 (the centroid vector itself, cos 1.0 to 1?
    # cos(0,1)=0.958 > eps, so 0 is also in the dup neighbourhood and
    # has the HIGHEST centroid_sim -> dropped). 4 survives untouched.
    assert 1 in rows and 4 in rows
    assert 2 not in rows and 3 not in rows and 0 not in rows
    assert rows[4]["dup_degree"] == 0
    assert rows[1]["dup_degree"] >= 2


def test_eps_disables_dedup(spark, fixture_emb):
    out = semdedup.semdedup_survivors(fixture_emb, eps=1.01, centroid_mod=7)
    assert out.count() == 5  # nothing can pair above cos 1.0


def test_max_cluster_size_bounds_candidates(spark):
    # 40 near-identical vectors in one cluster: uncapped pair count is
    # 40*39/2 = 780; with sub-splitting into 8 hash buckets the join
    # is per-bucket, so the survivor count RISES (cross-bucket dups
    # are no longer seen) — the documented recall trade-off — and the
    # result stays deterministic.
    rows = [(0, _unit(1, 0, 0, 0))] + [
        (i, _unit(1, 0.001 * i, 0, 0)) for i in range(1, 40)
    ]
    emb = _emb_df(spark, rows)
    full = semdedup.semdedup_survivors(emb, eps=0.99, centroid_mod=997)
    capped = semdedup.semdedup_survivors(
        emb, eps=0.99, centroid_mod=997, max_cluster_size=8
    )
    n_full, n_capped = full.count(), capped.count()
    assert n_full == 1  # one survivor of the clique
    assert n_capped >= n_full
    assert n_capped <= 8  # at most one survivor per sub-bucket
