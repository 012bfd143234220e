"""Winnowing fingerprints: Python replay of the selection chain and
the Schleimer et al. guarantee (a shared run of >= W+K-1 tokens
yields >= 1 shared selected fingerprint)."""

from __future__ import annotations

import hashlib

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.operators import winnow


def _py_fps(text: str) -> set[int]:
    k, w = winnow.WINNOW_K, winnow.WINNOW_W
    toks = text.split(" ")
    if len(toks) < k:
        return set()
    grams = [
        " ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)
    ]
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:7], 16) for g in grams
    ]
    n_win = max(len(hs) - w + 1, 1)
    return {min(hs[j:j + w]) for j in range(n_win)}


def test_fingerprint_card_matches_python_replay(spark, sf_dir):
    docs = catalog.load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    got = {
        r.doc_id: (r.n_fps, r.min_fp, r.max_fp)
        for r in spark.sql(winnow._fp_card_sql("spark")).collect()
    }
    texts = {r.doc_id: r.text for r in docs.collect()}
    exp = {
        d: (len(f), min(f), max(f))
        for d, f in ((d, _py_fps(t)) for d, t in texts.items())
        if f
    }
    assert got == exp


def test_density_is_winnowed(spark, sf_dir):
    """Selected fingerprints must be well under the gram count —
    winnowing keeps ~2/(W+1) of gram hashes, never all of them for a
    doc with more grams than one window."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    rows = spark.sql(winnow._fp_card_sql("spark")).collect()
    assert rows
    long_docs = [r for r in rows if r.n_grams >= 3 * winnow.WINNOW_W]
    assert long_docs, "fixture should contain docs with many grams"
    assert all(r.n_fps < r.n_grams for r in long_docs)


def test_shared_run_guarantee_produces_pair(spark):
    """Two docs sharing a contiguous run of W+K-1 tokens share at
    least one selected fingerprint (the winnowing guarantee); with
    two disjoint shared runs they clear the MIN_SHARED pair gate."""
    k, w = winnow.WINNOW_K, winnow.WINNOW_W
    run1 = " ".join(f"shared{i}" for i in range(w + k - 1))
    run2 = " ".join(f"also{i}" for i in range(w + k - 1))
    a = f"alpha beta {run1} gamma delta {run2} epsilon"
    b = f"one two three {run1} four five six seven {run2} eight"
    c = "totally different words everywhere nothing matches here at all"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    df.createOrReplaceTempView("documents")
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in spark.sql(winnow._pairs_sql("spark")).collect()
    }
    assert (1, 2) in pairs
    assert pairs[(1, 2)] >= 2
    assert all(3 not in p for p in pairs)


def test_guarantee_property_hypothesis():
    """Winnowing guarantee, property-tested: ANY two token sequences
    sharing a contiguous run of >= W+K-1 tokens share at least one
    selected fingerprint. Pure-Python over _py_fps — sound for the
    Spark operator because test_fingerprint_card_matches_python_replay
    pins Spark == _py_fps on the corpus."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    k, w = winnow.WINNOW_K, winnow.WINNOW_W
    vocab = [f"t{i}" for i in range(12)]
    tok_lists = st.lists(st.sampled_from(vocab), min_size=0, max_size=15)
    shared_run = st.lists(
        st.sampled_from(vocab), min_size=w + k - 1, max_size=w + k + 4
    )

    @settings(max_examples=200, deadline=None)
    @given(pre_a=tok_lists, post_a=tok_lists, pre_b=tok_lists,
           post_b=tok_lists, run=shared_run)
    def check(pre_a, post_a, pre_b, post_b, run):
        a = " ".join(pre_a + run + post_a)
        b = " ".join(pre_b + run + post_b)
        assert _py_fps(a) & _py_fps(b)

    check()


def test_winnow_pairs_unfold_matches_self_join(spark):
    """Round 15b: the driver entry's pair-unfold must emit the
    self-join spec's exact row set on the sf0.001 fixture (pairs AND
    shared counts)."""
    from dataset_batch_processor_spark import catalog

    sf = "/root/testdata/sf0.001"
    catalog.load_table(spark, sf, "documents").createOrReplaceTempView(
        "documents"
    )
    spec = sorted(
        tuple(r) for r in spark.sql(winnow._pairs_sql("spark")).collect()
    )
    got = sorted(
        tuple(r)
        for r in winnow.QUERIES["docs_winnow_overlap_pairs"](
            spark, sf
        ).collect()
    )
    assert got == spec and len(got) > 0
