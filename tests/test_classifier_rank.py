"""Classifier rank metrics: Python replay of the Mann-Whitney AUC
(with the (margin, doc_id) tie-break) and decile-partition sanity."""

from __future__ import annotations

from dataset_batch_processor_spark.operators import perceptron


def test_auc_matches_python_replay(spark, sf_dir):
    scored = perceptron._pocket_scored(spark, sf_dir).collect()
    got = {
        r.split: (r.n_pos, r.n_neg, r.auc_ppm)
        for r in perceptron._q_rank_auc(spark, sf_dir).collect()
    }
    for split in ("train", "val"):
        rows = sorted(
            (r for r in scored if r.split == split),
            key=lambda r: (r.margin, r.doc_id),
        )
        n_pos = sum(1 for r in rows if r.y == 1)
        n_neg = len(rows) - n_pos
        rsum = sum(i + 1 for i, r in enumerate(rows) if r.y == 1)
        u = rsum - n_pos * (n_pos + 1) // 2
        exp = u * 1_000_000 // (n_pos * n_neg)
        assert got[split] == (n_pos, n_neg, exp)
        # the linear student must actually rank (far above coin-flip)
        assert exp > 600_000


def test_deciles_partition_each_split(spark, sf_dir):
    lift = perceptron._q_decile_lift(spark, sf_dir).collect()
    scored = perceptron._pocket_scored(spark, sf_dir).collect()
    for split in ("train", "val"):
        rows = [r for r in lift if r.split == split]
        assert {r.decile for r in rows} <= set(range(10))
        assert sum(r.n_docs for r in rows) == sum(
            1 for r in scored if r.split == split
        )
        assert sum(r.n_pos for r in rows) == sum(
            1 for r in scored if r.split == split and r.y == 1
        )
        # deciles are near-equal slices: max-min sizes differ by <= 1
        # only when n % 10 == 0; allow the general bound of 2
        sizes = [r.n_docs for r in rows]
        assert max(sizes) - min(sizes) <= 2
