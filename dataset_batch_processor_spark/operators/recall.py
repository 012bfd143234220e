"""ANN recall harness: recall@k of every ANN family vs brute force.

Quality tripwire for the four approximate-search families (LSH,
multiprobe LSH, IVF, PQ, IVF-PQ): each family's fixture top-k is
deterministic, and so is the brute-force truth, so recall@k is fully
SQL-expressible and sits under the driver's value-hash gate — any
future change to a signature scheme, probe mask, codebook fixture, or
ranking tie-break that silently degrades (or just CHANGES) retrieval
quality flips the hash and fails the round.

recall@k = |ANN top-k ∩ exact top-k| / (n_queries × k), the standard
public metric (e.g. Jégou et al., Johnson et al. FAISS evaluations).
Note the fixture corpus is near-uniform random, so absolute recall is
LOW by construction (random data has no cluster structure for
LSH/IVF cells to exploit); the report's job is regression detection,
not benchmarking — the amplified-scale studies in SCALE.md cover
throughput, and clustered-data recall is bounded in
tests/test_similarity_ivf.py.

Scale shape: each family's candidate generation is already bucketed
(documented in its own module); the report adds only broadcast-sized
hash joins of k-row-per-query result sets — nothing corpus-sized
moves. At 100 TB you run this on a sampled query panel (the fixture's
QUERY_MOD is exactly that) against the production indexes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from .ivfpq import IVFPQ_TOPK_DUCK, _q_ivfpq_topk
from .pq import PQ_TOPK_DUCK, _q_pq_topk
from .similarity import (
    ANN_LSH_DUCK,
    ANN_MULTIPROBE_DUCK,
    BRUTE_FORCE_DUCK,
    IVF_TOPK_DUCK,
    TOP_K,
    _q_ann_lsh,
    _q_ann_multiprobe,
    _q_ivf_topk,
    brute_force_topk,
)

_DUCK_FAMILIES = {
    "ivf": IVF_TOPK_DUCK,
    "ivfpq": IVFPQ_TOPK_DUCK,
    "lsh": ANN_LSH_DUCK,
    "lsh_multiprobe": ANN_MULTIPROBE_DUCK,
    "pq": PQ_TOPK_DUCK,
}


def _q_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("embeddings")
    # The truth set is referenced by all five family hit-joins plus
    # the denominator. Deliberately NOT persisted and NOT collected:
    # both were tried and measured SLOWER at sf0.1 (persist severs
    # the ReusedExchange sharing between the brute-force subtree and
    # the family sides; eager per-family evaluation loses all
    # cross-family sharing). The lazy union lets Spark dedupe the
    # identical exchanges itself.
    bf = brute_force_topk(emb).select("query_id", "neighbor_id")
    # Each family result comes from the SAME materialize_once-backed
    # function its registered driver query uses, so within one session
    # (the bench run, the driver's correctness sweep) the five family
    # top-k tables are computed exactly once — the recall report scans
    # the scratch parquet the family query already built (or builds it
    # first and the family query gets the free scan).
    fams = {
        "ivf": _q_ivf_topk(spark, sf_dir),
        "ivfpq": _q_ivfpq_topk(spark, sf_dir),
        "lsh": _q_ann_lsh(spark, sf_dir),
        "lsh_multiprobe": _q_ann_multiprobe(spark, sf_dir),
        "pq": _q_pq_topk(spark, sf_dir),
    }
    denom = bf.agg(
        (F.countDistinct("query_id") * TOP_K).alias("denom")
    )
    parts = []
    for name, df in fams.items():
        hits = (
            df.select("query_id", "neighbor_id")
            .join(bf, ["query_id", "neighbor_id"])
            .agg(F.count(F.lit(1)).alias("hits"))
        )
        parts.append(hits.select(F.lit(name).alias("family"), "hits"))
    rep = parts[0]
    for p in parts[1:]:
        rep = rep.unionByName(p)
    return (
        rep.crossJoin(F.broadcast(denom))
        .select(
            "family",
            "hits",
            "denom",
            F.round(
                F.col("hits").cast("double") / F.col("denom"), 6
            ).alias("recall_at_5"),
        )
        .orderBy("family")
    )


def _recall_duck() -> str:
    ctes = [f"bf AS ({BRUTE_FORCE_DUCK})"]
    for name, sql in _DUCK_FAMILIES.items():
        ctes.append(f"f_{name} AS ({sql})")
    hit_parts = " UNION ALL ".join(
        f"SELECT '{name}' AS family, count(*) AS hits "
        f"FROM f_{name} a JOIN bf b "
        "ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id"
        for name in _DUCK_FAMILIES
    )
    ctes.append(
        f"denom_t AS (SELECT count(DISTINCT query_id) * {TOP_K} "
        "AS denom FROM bf)"
    )
    ctes.append(f"hits_t AS ({hit_parts})")
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT family, hits, denom, "
        "round(CAST(hits AS DOUBLE) / denom, 6) AS recall_at_5 "
        "FROM hits_t, denom_t ORDER BY family"
    )


RECALL_REPORT_DUCK = _recall_duck()

QUERIES = {"emb_ann_recall_report": _q_recall_report}
ORACLES = {"emb_ann_recall_report": RECALL_REPORT_DUCK}
