"""The composed curation pipeline (examples/curate_corpus.py) runs
end-to-end and its funnel is monotone."""

from __future__ import annotations

import importlib.util
import os
import sys

EXAMPLES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples"
)


def load_example():
    spec = importlib.util.spec_from_file_location(
        "curate_corpus", os.path.join(EXAMPLES, "curate_corpus.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["curate_corpus"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_curation_funnel(spark, sf_dir, tmp_path):
    mod = load_example()
    m = mod.curate(spark, sf_dir, str(tmp_path / "corpus"))
    assert m["input_docs"] == 500
    # funnel is monotone non-increasing
    assert m["input_docs"] >= m["after_quality"] >= m["after_exact_dedup"]
    assert m["after_exact_dedup"] >= m["after_near_dedup"] > 0
    assert m["train_docs"] + m["val_docs"] == m["after_near_dedup"]
    # cluster-keyed split: no candidate pair straddles train/val
    assert m["cross_split_candidate_pairs"] == 0
    assert m["n_shards"] >= 2  # both splits produce at least one shard
    # layout on disk is partitioned by split
    out = tmp_path / "corpus"
    assert (out / "split=train").exists() and (out / "split=val").exists()


def test_dedup_pipeline_example(spark):
    import sys

    sys.path.insert(0, EXAMPLES)
    from dedup_pipeline import curate

    out = curate(spark, "/root/testdata/sf0.001").collect()
    assert out  # survivors exist
    docs = {r.doc_id for r in out}
    assert len(docs) == len(out)  # one row per surviving doc
    splits = {r.split for r in out}
    assert splits <= {"train", "val"}
    # shard ids dense-ish from 0 within each split
    by_split = {}
    for r in out:
        by_split.setdefault(r.split, set()).add(r.shard_id)
    for shards in by_split.values():
        assert min(shards) == 0


def test_export_pipeline_example(spark):
    import sys

    sys.path.insert(0, EXAMPLES)
    from export_pipeline import export_plan

    kept, emb, packed, manifest = export_plan(spark, "/root/testdata/sf0.001")
    n_kept = kept.count()
    assert 0 < n_kept
    assert emb.count() == n_kept  # one embedding per survivor
    rows = packed.collect()
    assert len(rows) == n_kept
    # packing invariants: spans are well-formed and offsets in range
    for r in rows:
        assert 0 <= r.offset_in_seq < 512
        assert r.first_seq <= r.last_seq
    # the token stream is CONTIGUOUS over the kept docs — no offset
    # gaps from dropped documents (packing runs on the filtered set)
    ordered = sorted(rows, key=lambda r: r.tok_before)
    pos = 0
    for r in ordered:
        assert r.tok_before == pos
        pos += r.n_units
    man = manifest.collect()
    assert man and sum(r.n_docs for r in man) == n_kept


def test_ingest_pipeline_example(spark, tmp_path):
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, EXAMPLES)
    from ingest_pipeline import ingest_batch

    from dataset_batch_processor_spark import catalog
    from dataset_batch_processor_spark.sources import snapshots

    docs = catalog.load_table(spark, "/root/testdata/sf0.001", "documents")
    table = str(tmp_path / "corpus")
    snapshots.publish_snapshot(docs.filter(F.col("doc_id") % 2 == 0), table)
    base_n = snapshots.read_snapshot(spark, table).count()

    # wave 1: genuinely new docs -> most ingested
    v1, s1 = ingest_batch(spark, table, docs.filter(F.col("doc_id") % 4 == 1))
    assert v1 == 2 and s1["ingested"] > 0
    assert s1["corpus_rows"] == base_n + s1["ingested"]

    # wave 2: replay the SAME docs -> all exact dups, zero ingested
    v2, s2 = ingest_batch(spark, table, docs.filter(F.col("doc_id") % 4 == 1))
    assert v2 == 3
    assert s2["ingested"] == 0
    # everything previously ingested replays as an exact dup; the
    # arrivals wave-1 rejected as near-dups never entered the corpus,
    # so they are re-rejected at the near step — both paths must
    # account for the whole wave
    assert s2["exact_dropped"] + s2["near_dropped"] == s2["arrivals"]
    assert s2["exact_dropped"] == s1["ingested"]

    # versions remain readable: v2 and v3 corpora are identical
    assert (
        snapshots.read_snapshot(spark, table, version=2).count()
        == snapshots.read_snapshot(spark, table, version=3).count()
    )


def test_leakage_safe_split_invariant(spark, sf_dir):
    """Cluster-hash split keeps every candidate pair on one side —
    structurally on the Spark side (both endpoints share a comp), but
    the pinned numbers also prove the doc-hash baseline genuinely
    leaks on the fixture, so the query demonstrates the failure mode
    it exists to prevent."""
    from dataset_batch_processor_spark.operators.curation import (
        _q_leakage_safe_split,
    )

    rows = {(r.split_mode, r.split): r
            for r in _q_leakage_safe_split(spark, sf_dir).collect()}
    assert len(rows) == 4
    n_docs = {m: sum(r.n_docs for (mm, _), r in rows.items() if mm == m)
              for m in ("doc", "cluster")}
    assert n_docs["doc"] == n_docs["cluster"]  # both modes cover corpus
    for (mode, _), r in rows.items():
        if mode == "cluster":
            assert r.n_cross_split_pairs == 0
    # clusters are not double-counted across splits in cluster mode
    total_clusters = rows[("cluster", "train")].n_clusters_touched + \
        rows[("cluster", "val")].n_clusters_touched
    assert total_clusters <= n_docs["cluster"]


def test_export_plan_dsir_selector(spark):
    from pyspark.sql import functions as F

    from dataset_batch_processor_spark.export import export_plan
    from dataset_batch_processor_spark import catalog
    from dataset_batch_processor_spark.operators import dsir as dsir_ops

    kept, emb, packed, manifest = export_plan(
        spark, "/root/testdata/sf0.001", drop_worst_pct=20, selector="dsir"
    )
    docs = catalog.load_table(spark, "/root/testdata/sf0.001", "documents")
    n = docs.count()
    n_kept = kept.count()
    assert 0 < n_kept < n  # the worst DSIR tail is actually dropped
    assert emb.count() == n_kept
    # polarity: the kept slice must be more target-lang-rich than the
    # dropped slice (that's what selecting BY dsir means)
    kept_langs = docs.join(kept, "doc_id")
    n_kept_t = kept_langs.filter(
        F.col("lang") == dsir_ops.TARGET_LANG
    ).count()
    n_t = docs.filter(F.col("lang") == dsir_ops.TARGET_LANG).count()
    assert n_kept_t * n > n_t * n_kept  # cross-multiplied enrichment

    import pytest

    with pytest.raises(ValueError, match="selector"):
        export_plan(spark, "/root/testdata/sf0.001", selector="nope")


def test_web_pipeline_example(spark):
    import sys

    sys.path.insert(0, EXAMPLES)
    from web_pipeline import web_pipeline

    selected, funnel = web_pipeline(spark, "/root/testdata/sf0.001")
    stages = {r.stage: r.n_docs for r in funnel.collect()}
    # monotone attrition down the funnel, nothing degenerate
    assert (
        stages["0_raw_pages"]
        >= stages["1_extracted"]
        >= stages["2_quality_gated"]
        >= stages["3_dsir_selected"]
        > 0
    )
    rows = selected.collect()
    assert len(rows) == stages["3_dsir_selected"]
    for r in rows[:10]:
        # chrome and PII masks are gone from the surviving text
        assert "Home" not in r.text and "<" not in r.text
        # no repeated paragraphs survive
        paras = r.text.split("\n")
        assert len(paras) == len(set(paras))


def test_rlhf_pipeline_example(spark, tmp_path):
    """examples/rlhf_pipeline.py runs end to end on sf0.001; the
    published training pairs are exactly the margin-real,
    ensemble-agreed subset of the gated pair set."""
    import sys

    sys.path.insert(0, EXAMPLES)
    import rlhf_pipeline

    from dataset_batch_processor_spark import catalog
    from dataset_batch_processor_spark.operators import preference

    out = str(tmp_path / "rlhf")
    m = rlhf_pipeline.run(spark, "/root/testdata/sf0.001", out)
    n_docs = catalog.load_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).count()
    assert m["n_pairs"] == n_docs == m["n_bestof"]
    assert sum(m["margin_buckets"].values()) == n_docs
    assert 0 < m["n_train_pairs"] < n_docs
    # strengths ordered like the fixture's known policy ranking and
    # normalized to ~Q6
    s = {int(k): v for k, v in m["bt_strengths_ppm"].items()}
    assert len(s) == preference.N_CANDIDATES
    assert 1_000_000 - preference.N_CANDIDATES <= sum(s.values()) <= 1_000_000
    # published artifact matches the metric
    got = spark.read.parquet(f"{out}/dpo_pairs")
    assert got.count() == m["n_train_pairs"]
    # exclusion semantics: no published pair has a bucket-0 margin
    assert got.filter(
        got["margin"] < preference.MARGIN_BUCKET
    ).count() == 0


def test_rlvr_pipeline_example(spark, tmp_path):
    """examples/rlvr_pipeline.py runs end to end on sf0.001; the
    published GRPO batch is exactly the signal-bearing rollout set
    minus canary-leaked tasks."""
    import sys

    sys.path.insert(0, EXAMPLES)
    import rlvr_pipeline

    from dataset_batch_processor_spark.operators import rlvr

    out = str(tmp_path / "rlvr")
    m = rlvr_pipeline.run(spark, "/root/testdata/sf0.001", out)
    assert m["n_grpo_rows"] == m["n_signal_tasks"] * rlvr.N_ROLLOUTS
    assert 0 < m["n_signal_tasks"] < m["n_tasks"]
    # pass@k monotone in k
    ks = sorted(int(k) for k in m["pass_at_k_ppm"])
    vals = [m["pass_at_k_ppm"][str(k)] for k in ks]
    assert vals == sorted(vals)
    # the quarantine removed full task groups (multiples of N_ROLLOUTS)
    removed = m["n_grpo_rows"] - m["n_published_rows"]
    assert removed % rlvr.N_ROLLOUTS == 0
    assert removed <= m["n_leaked_tasks"] * rlvr.N_ROLLOUTS
    got = spark.read.parquet(f"{out}/grpo_batch")
    assert got.count() == m["n_published_rows"]
    # no leaked task survives in the artifact
    from pyspark.sql import functions as F

    from dataset_batch_processor_spark.operators import canary

    leaked_ids = {
        r.doc_id
        for r in canary.QUERIES["docs_canary_exposure"](
            spark, "/root/testdata/sf0.001"
        ).filter(F.col("leaked")).collect()
    }
    assert not leaked_ids & {r.doc_id for r in got.collect()}
    assert removed == len(leaked_ids & set(
        r.doc_id for r in rlvr.QUERIES["docs_grpo_advantage"](
            spark, "/root/testdata/sf0.001"
        ).select("doc_id").distinct().collect()
    )) * rlvr.N_ROLLOUTS


def test_governance_pipeline_example(spark, tmp_path):
    """examples/governance_pipeline.py runs end to end on sf0.001; the
    published snapshot is exactly scrubbed-minus-contaminated-minus-
    leaked, and the provenance check passed on every image."""
    import sys

    sys.path.insert(0, EXAMPLES)
    import governance_pipeline

    from dataset_batch_processor_spark.operators import decontam

    out = str(tmp_path / "gov")
    m = governance_pipeline.run(spark, "/root/testdata/sf0.001", out)
    assert m["n_scrubbed"] == m["n_docs"]
    assert m["n_watermark_failures"] == 0
    assert 0 < m["n_contaminated"] < m["n_docs"]
    assert 0 < m["n_leaked"]
    assert 0 < m["n_eval_held_out"] < m["n_docs"]
    got = spark.read.parquet(f"{out}/clean_corpus")
    assert got.count() == m["n_published"]
    rows = got.collect()
    # the eval slice never ships in the training snapshot
    assert all(r.doc_id % decontam.EVAL_MOD != 0 for r in rows)
    # removed set is bounded by the union of the three gates (they
    # can overlap) and covers at least the largest gate
    removed = m["n_docs"] - m["n_published"]
    assert removed <= (
        m["n_contaminated"] + m["n_leaked"] + m["n_eval_held_out"]
    )
    assert removed >= max(
        m["n_contaminated"], m["n_leaked"], m["n_eval_held_out"]
    )
    # the PII masks genuinely fired: every published doc from the
    # planted slice carries <EMAIL>/<URL> masks and no raw address
    planted = [
        r for r in rows
        if r.doc_id % governance_pipeline.PII_PLANT_MOD == 1
    ]
    assert planted and m["n_pii_planted"] > 0
    for r in planted:
        assert "@example.com" not in r.text
        assert "<EMAIL>" in r.text and "<URL>" in r.text


def test_serving_pipeline_example(spark):
    import sys

    sys.path.insert(0, EXAMPLES)
    from serving_pipeline import serve_plan

    from dataset_batch_processor_spark.operators import curation

    arts = serve_plan(spark, "/root/testdata/sf0.001")
    plan = arts["batch_plan"].collect()
    assert plan
    for r in plan:
        assert 0 <= r.waste_ppm < 1_000_000
        assert r.padded_chars >= r.real_chars
        assert r.n_batches * r.batch_size >= r.n_docs
    served = arts["ann_served"].collect()
    assert served and all(1 <= r.rank <= 5 for r in served)
    admitted = arts["admitted"].collect()
    per_src = {}
    for r in admitted:
        per_src.setdefault(r.source, []).append(r.sample_rank)
    for ranks in per_src.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= curation.QUOTA_K


def test_rag_store_pipeline(spark, sf_dir):
    """examples/rag_store_pipeline.py runs end to end on sf0.001:
    chunking covers the corpus, dedup strictly shrinks the store
    (the fixture has duplicate windows), every unique chunk embeds,
    and retrieval returns a descending cosine list."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "rag_store_pipeline", os.path.join(EXAMPLES, "rag_store_pipeline.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["rag_store_pipeline"] = mod
    spec.loader.exec_module(mod)
    m = mod.run(spark, sf_dir)
    assert m["n_chunks"] > m["n_store"] > 0
    assert m["n_vecs"] == m["n_store"]
    assert m["top_cos"] == sorted(m["top_cos"], reverse=True)
    assert len(m["top_cos"]) == 5
