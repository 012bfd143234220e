"""The hot-key guard in front of every pair unfold: ``dedup.drop_hot_keys``
(alone, or inside ``capped_groups`` + ``unfold_pairs``) must drop a
degenerate key (a constant band signature over an exact-dup class, a
stop-gram shared by billions of docs) by a spill-safe window count
BEFORE anything buffers its members, instead of building them as ONE
in-memory array in the aggregation and only then discarding it.

Pinned here:

1. parity on a SYNTHETIC DEGENERATE key (≫ cap members), once per
   unfold shape (the banded bucket pairs every LSH family and the image
   hashes share, the winnow fingerprint pairs, the n-gram Jaccard
   postings): the unfold emits exactly the self-join spec's rows — the
   over-cap key's pairs are gone, the under-cap keys' pairs survive;
2. plan shape, once per caller of the guard: the executed plan runs
   the partitioned window count BELOW (= before) the operator that
   buffers a key's members — the collect_list aggregation, or the
   candidate join where the guarded rows feed a join instead.
"""

from __future__ import annotations

import pytest

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.operators import (
    decontam,
    dedup,
    imagedup,
    phash,
    winnow,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------------- parity


def _bucket_case(spark):
    """One degenerate bucket (cap + 40 members) + two small buckets;
    spec: the uncapped self-join over the guarded bands."""
    cap = dedup.DEFAULT_MAX_BUCKET_SIZE
    rows = [(i, 0, 7) for i in range(cap + 40)]
    rows += [(1000 + i, 1, 11) for i in range(3)]
    rows += [(2000 + i, 2, 13) for i in range(4)]
    bands = spark.createDataFrame(rows, "doc_id long, band int, bucket long")
    got = dedup._bucket_pairs(bands, cap)
    spec = dedup._bucket_pairs(
        dedup.drop_hot_keys(bands, ("band", "bucket"), cap), None
    )

    def shape_ok(pairs):
        # the two small buckets: 3 and 4 members -> 3 + 6 pairs
        return len(pairs) == 3 + 6 and not any(b < 1000 for _, b in pairs)

    return got, spec, shape_ok


def _winnow_case(spark):
    """n_hot docs sharing one fingerprint class (over cap) + one
    under-cap pair of similar docs; spec: ``_pairs_sql``'s self-join."""
    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    rows = [(i, base) for i in range(winnow.FP_DOC_CAP + 20)]
    tail = "iota kappa lam mu nu xi omicron pi " * 6
    rows += [(5000, tail + "rho"), (5001, tail + "sigma")]
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).createOrReplaceTempView("documents")
    got = winnow.overlap_pairs_df(spark)
    spec = spark.sql(winnow._pairs_sql("spark"))

    def shape_ok(pairs):
        return any(r[0] == 5000 and r[1] == 5001 for r in pairs) and not any(
            r[0] < 5000 and r[1] < 5000 for r in pairs
        )

    return got, spec, shape_ok


def _jaccard_case(spark):
    """One gram class shared by n_hot docs (over DF_CAP) + two docs
    sharing an under-cap gram set, grams built through the module's own
    grams CTE; spec: the classic df + self-join tail."""
    hot = " ".join(f"w{j}" for j in range(decontam.JAC_N))
    cold = " ".join(f"c{j}" for j in range(decontam.JAC_N))
    rows = [(i, hot) for i in range(decontam.DF_CAP + 25)]
    rows += [(9000, cold), (9001, cold)]
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).createOrReplaceTempView("documents")
    grams = spark.sql(
        "WITH " + decontam._grams_cte_spark(decontam.JAC_N)
        + " SELECT * FROM grams"
    )
    grams.createOrReplaceTempView("jac_grams")
    got = decontam.ngram_jaccard_df(grams)
    spec = spark.sql(
        "WITH grams AS (SELECT * FROM jac_grams),\n"
        + decontam._JAC_TAIL.lstrip()
    )
    return got, spec, lambda pairs: pairs == [(9000, 9001, 1.0)]


@pytest.mark.parametrize(
    "case",
    [_bucket_case, _winnow_case, _jaccard_case],
    ids=["bucket_pairs", "winnow", "ngram_jaccard"],
)
def test_degenerate_key_unfold_matches_self_join_spec(spark, case):
    got, spec, shape_ok = case(spark)
    got_rows = sorted(tuple(r) for r in got.collect())
    assert got_rows == sorted(tuple(r) for r in spec.collect())
    assert shape_ok(got_rows), got_rows


# ---------------------------------------------------------- plan pin


# (caller, frame builder, the guarded key's first column, the operator
# that buffers a key's members)
_CALLERS = [
    ("kperm_lsh",
     lambda s, d: dedup.lsh_pairs_df(catalog.load_table(s, d, "documents")),
     "band", "collect_list"),
    ("oph_lsh", dedup.QUERIES["minhash_oph_pairs"], "band", "collect_list"),
    ("img_dhash", imagedup.QUERIES["img_dhash_near_dup_pairs"], "band",
     "collect_list"),
    ("img_phash", phash.QUERIES["img_phash_near_dup_pairs"], "band",
     "collect_list"),
    ("winnow", winnow.QUERIES["docs_winnow_overlap_pairs"], "fp",
     "collect_list"),
    ("ngram_jaccard", decontam.QUERIES["docs_ngram_jaccard_pairs"], "gh",
     "collect_list"),
    ("fuzzy_decontam", decontam.QUERIES["docs_fuzzy_decontam"], "band",
     "BroadcastHashJoin"),
    ("index_dedup", dedup.QUERIES["docs_index_dedup_newbatch"], "band",
     "Join"),
]


@pytest.mark.parametrize(
    "build,key,buffer_op",
    [c[1:] for c in _CALLERS],
    ids=[c[0] for c in _CALLERS],
)
def test_window_count_runs_below_the_buffering_operator(
    spark, sf_dir, build, key, buffer_op
):
    """The tree string prints parents above children: the buffering
    operator must appear ABOVE the guard's window count over ``key``
    (the window runs first)."""
    plan = _plan(build(spark, sf_dir))
    guard = f"windowspecdefinition({key}#"
    assert buffer_op in plan, plan
    assert guard in plan, plan
    assert plan.index(buffer_op) < plan.index(guard), (
        f"window count must sit below (execute before) {buffer_op}:\n"
        + plan
    )
