"""SemDeDup: keep-rule semantics on a hand-built cluster fixture and
the oversized-cluster sub-split bound. The numeric path is proven by
the driver oracle (emb_semdedup_survivors); these tests pin the parts
a value hash can't see: WHICH member survives and why, that the
cap actually bounds the candidate join, and that the pair kernel's
memory is bounded without changing a row."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pandas as pd
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


def _cluster(m, dim, seed):
    """One pair_key group as the kernel receives it, in shuffled order."""
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "vec_id": rng.permutation(m).astype(np.int64),
            "embedding": list(rng.standard_normal((m, dim))),
            "centroid_sim": rng.random(m),
        }
    )


def test_pair_kernel_memory_is_bounded():
    """A 1,500-member cluster at dim 8 is 1.1M pairs; building them all
    at once peaked at 197 MB. In blocks the peak stays a few MB."""
    pdf = _cluster(1500, 8, seed=0)
    run = semdedup._pair_cos_kernel(0.99)
    tracemalloc.start()
    try:
        run(pdf)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 32 * 2**20, f"peak {peak / 2**20:.1f} MB"


def test_pair_kernel_blocks_emit_identical_rows(monkeypatch):
    """Many small blocks emit exactly the rows, order and doubles of one
    block (300 members: 44,850 pairs, under the default budget)."""
    pdf = _cluster(300, 16, seed=1)
    one = semdedup._pair_cos_kernel(0.3)(pdf)
    monkeypatch.setattr(semdedup, "PAIR_BLOCK", 97)
    many = semdedup._pair_cos_kernel(0.3)(pdf)
    assert len(one) > 1000
    pd.testing.assert_frame_equal(
        one.reset_index(drop=True), many.reset_index(drop=True),
        check_exact=True,
    )
