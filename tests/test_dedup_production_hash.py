"""Production-hash MinHash twin (round 13, VERDICT r12 missing #3).

The dedup signature build is the single hottest corpus pass at
100 TB; md5-substr-conv is the oracle spelling, xxhash64 the
production escape hatch (the cms.py precedent). These tests pin:

1. the flag actually changes the base hash (the families differ),
2. the production build is deterministic,
3. pair-RECALL parity on the fixture: banding over xxhash64
   signatures finds (essentially) the same truly-similar pairs the
   md5 gate path finds — any single uniform hash family is a valid
   MinHash, so large recall divergence would mean a broken fold.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.operators import dedup


def _pairs(spark, docs, production_hash: bool) -> set:
    sigs = dedup.minhash_signatures_df(docs, production_hash=production_hash)
    bands = dedup.lsh_bands_df(sigs)
    return {
        (r.doc_a, r.doc_b)
        for r in dedup._bucket_pairs(bands).collect()
    }


def _truth(spark, sf_dir) -> set:
    return {
        (r.doc_a, r.doc_b)
        for r in dedup.jaccard_truth(spark, sf_dir, panel_mod=1).collect()
    }


def test_production_hash_changes_signatures(spark, sf_dir):
    docs = catalog.load_table(spark, sf_dir, "documents").limit(50)
    md5_sig = dedup.minhash_signatures_df(docs).orderBy("doc_id").collect()
    xx_sig = (
        dedup.minhash_signatures_df(docs, production_hash=True)
        .orderBy("doc_id")
        .collect()
    )
    assert [r.doc_id for r in md5_sig] == [r.doc_id for r in xx_sig]
    # at least one signature column differs for at least one doc
    assert any(
        tuple(a)[1:] != tuple(b)[1:] for a, b in zip(md5_sig, xx_sig)
    )


def test_production_hash_deterministic(spark, sf_dir):
    docs = catalog.load_table(spark, sf_dir, "documents")
    a = dedup.minhash_signatures_df(docs, production_hash=True).orderBy(
        "doc_id"
    ).collect()
    b = dedup.minhash_signatures_df(docs, production_hash=True).orderBy(
        "doc_id"
    ).collect()
    assert a == b


def test_production_hash_pair_recall_parity(spark, sf_dir):
    docs = catalog.load_table(spark, sf_dir, "documents")
    truth = _truth(spark, sf_dir)
    assert truth, "fixture must contain true near-dup pairs"
    recall_md5 = len(_pairs(spark, docs, False) & truth) / len(truth)
    recall_xx = len(_pairs(spark, docs, True) & truth) / len(truth)
    # banding is probabilistic per hash family; demand the production
    # family is within 10 points of the gate family on the fixture
    assert recall_xx >= recall_md5 - 0.10, (recall_md5, recall_xx)


def test_md5_default_unchanged_by_flag_plumbing(spark, sf_dir):
    """The default path must be byte-identical to the pre-flag build
    (the driver gate rides on it)."""
    docs = catalog.load_table(spark, sf_dir, "documents").limit(20)
    sig = dedup.minhash_signatures_df(docs)
    explicit = dedup.minhash_signatures_df(docs, production_hash=False)
    assert sig.orderBy("doc_id").collect() == explicit.orderBy(
        "doc_id"
    ).collect()
    # and the base hash is still the md5 28-bit int
    sh = dedup.shingle_sets(docs.limit(1), distinct=True).limit(1).collect()
    import hashlib

    for r in sh:
        expect = int(hashlib.md5(r.shingle.encode()).hexdigest()[:7], 16)
        assert r.h == expect
