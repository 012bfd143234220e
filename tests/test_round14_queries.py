"""Round-14 gated-query pins: production-hash end-to-end chain and
the parameterized ANN knobs (planes / query_mod)."""

from __future__ import annotations

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.operators import dedup, embed


def _docs(spark, sf_dir):
    return {
        r.doc_id: r.text
        for r in catalog.load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }


def _shingles(text: str) -> frozenset:
    w, s = dedup.SHINGLE_W, dedup.SHINGLE_STRIDE
    if len(text) < w:
        return frozenset()
    return frozenset(text[p:p + w] for p in range(0, len(text) - w + 1, s))


def test_prodhash_chain_recovers_planted_j1_clusters(spark, sf_dir):
    """Plain-Python replay: the xxhash64 end-to-end chain must emit
    exactly the identical-shingle-set equivalence classes of the
    planted corpus (guaranteed-recall J=1 population)."""
    docs = _docs(spark, sf_dir)
    planted = dict(docs)
    for d, t in docs.items():
        if d % dedup.PLANT_MOD == 0:
            planted[d + dedup.PLANT_OFFSET] = t
    classes: dict = {}
    for d, t in planted.items():
        sh = _shingles(t)
        if sh:
            classes.setdefault(sh, []).append(d)
    expect = {}
    for members in classes.values():
        if len(members) < 2:
            continue
        canon = min(members)
        for d in members:
            expect[d] = (canon, 1 if d == canon else 0)
    got = {
        r.doc_id: (r.canonical_doc_id, r.is_survivor)
        for r in dedup.QUERIES["docs_prodhash_dedup_chain"](
            spark, sf_dir
        ).collect()
    }
    assert got == expect
    assert expect, "fixture+planting must produce a non-vacuous gate"


def test_prodhash_chain_md5_twin_matches_production(spark, sf_dir):
    """The A/B lever the scale study times: both hash families must
    produce the SAME J=1 labels (recall 1 by construction for
    identical signatures under any base hash)."""
    planted = dedup.plant_exact_copies(
        catalog.load_table(spark, sf_dir, "documents")
    )
    prod = {
        (r.doc_id, r.canonical_doc_id)
        for r in dedup.prodhash_chain_labels_df(
            planted, production_hash=True
        ).collect()
    }
    md5 = {
        (r.doc_id, r.canonical_doc_id)
        for r in dedup.prodhash_chain_labels_df(
            planted, production_hash=False
        ).collect()
    }
    assert prod == md5 and prod


def test_ann_lsh_planes_knob_changes_buckets_not_contract(spark, sf_dir):
    """planes is the at-scale knob: a different P must still produce
    a valid top-k table (same schema, per-query rank 1..k, k rows
    max) — the P=8 oracle contract is pinned by the driver gate."""
    df = embed.embed_ann_lsh_df(spark, sf_dir, planes=10)
    rows = df.collect()
    assert df.columns == ["query_id", "neighbor_id", "cos_fx", "rank"]
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= embed.EMBED_ANN_TOP_K


def test_ann_lsh_bucket_cap_prunes_candidate_index(spark, sf_dir):
    """bucket_cap drops hot buckets from the candidate INDEX side
    only; cap=None must reproduce the gated contract exactly."""
    base = embed.embed_ann_lsh_df(spark, sf_dir).collect()
    capped = embed.embed_ann_lsh_df(spark, sf_dir, bucket_cap=1).collect()
    assert len(capped) < len(base)  # fixture has shared buckets
    again = embed.embed_ann_lsh_df(
        spark, sf_dir, bucket_cap=None
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, base))


def test_ann_query_mod_knob_fixes_panel_size(spark, sf_dir):
    """query_mod is the fixed-|Q| scale-study lever: doubling it must
    (roughly) halve the query panel, and every query id must satisfy
    the mod predicate."""
    base = embed.embed_ann_topk_df(spark, sf_dir)
    wide = embed.embed_ann_topk_df(
        spark, sf_dir, query_mod=embed.EMBED_ANN_QUERY_MOD * 2
    )
    qb = {r.query_id for r in base.select("query_id").distinct().collect()}
    qw = {r.query_id for r in wide.select("query_id").distinct().collect()}
    assert qw <= qb
    assert all(q % (embed.EMBED_ANN_QUERY_MOD * 2) == 0 for q in qw)
