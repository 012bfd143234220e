"""The session warm set: every artifact a session shares between
queries, declared once.

A session-shared artifact (the LSH pair graph, the CC labels, the IVF
assignment, a stream twin's shard staging, ...) is built by whichever
consumer touches it first. A timing that should measure a query's own
work therefore warms the whole set first; ``warm`` does that and
returns the seconds each step took. ``BUILDS`` is the ordered list of
named builds: a build runs after the builds it reads (the minhash
signatures before the pair graph, the lang-ID corpus tables before
the model).

``RESULT_CACHES`` maps each query whose registered form scans a
matcache-materialized *result* (the build-once ANN top-k) to the one
kind it owns. A timing busts it first (``bust``), so it measures the
build and probe rather than the cached scan, and one family's
eviction never perturbs a sibling.

bench.py, tools/profile_queries.py and the tests iterate these
declarations; perfbench's hand-picked warm builds use the same labels
and kinds, which tests/test_warmset.py pins.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession

from . import catalog, matcache
from .operators import (
    bpe,
    chat,
    components,
    curationfunnel,
    decontam,
    dedup,
    dedupdash,
    langid,
    perceptron,
    semdedup,
    similarity,
)
from .streaming.fixtures import Twin

Build = Callable[[SparkSession, str], object]


def _count(build: Callable[[SparkSession, str], DataFrame]) -> Build:
    return lambda spark, sf_dir: build(spark, sf_dir).count()


def _shuffle(spark: SparkSession, sf_dir: str) -> None:
    # the exchange and codegen paths
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy(
        "l_returnflag"
    ).count().count()


def _python_workers(spark: SparkSession, sf_dir: str) -> None:
    # forks the Arrow Python worker pool
    spark.range(128).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).count()


def _jaccard_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_docs = catalog.load_table(spark, sf_dir, "documents").count()
    return dedup.jaccard_truth(
        spark, sf_dir, panel_mod=dedup.truth_panel_mod(n_docs)
    )


# One-time session costs that belong to no query.
GENERIC: dict[str, Build] = {
    "shuffle": _shuffle,
    "python_workers": _python_workers,
}

BUILDS: dict[str, Build] = {
    "minhash_sigs": _count(dedup.minhash_sigs),
    "decon_grams_w8": _count(
        lambda s, d: decontam.gram_table(s, d, decontam.DECON_N)
    ),
    "decon_grams_w3": _count(
        lambda s, d: decontam.gram_table(s, d, decontam.JAC_N)
    ),
    "pair_graph": _count(dedup.pair_graph),
    "jaccard_truth": _count(_jaccard_truth),
    "dup_labels": _count(components.doc_dup_labels),
    "curation_gates": _count(curationfunnel.doc_gates),
    "dhash_graph": _count(dedupdash.dhash_labels),
    "phash_graph": _count(dedupdash.phash_labels),
    "semdedup_survivors": _count(semdedup.semdedup_table),
    "chat_turns": _count(chat.chat_turns),
    "ivf_flat_assign": _count(similarity.ivf_flat_assign),
    "ivf_trained_centroids": similarity._trained_index,
    "ivf_trained_assign": _count(similarity.trained_assign_df),
    "ivf_persisted_index": similarity.persisted_index_dir,
    "perceptron_weights": perceptron.train_trajectory,
    "langid_feats": _count(langid.corpus_feats_df),
    "langid_teach": _count(langid.corpus_teach_df),
    "langid_nb_model": _count(langid.nb_model_df),
    "bpe_merges_artifact": _count(bpe.bpe_merges_artifact),
}

RESULT_CACHES: dict[str, str] = {
    "emb_ivf_topk": "anntopk_ivf",
    "emb_ann_lsh_topk": "anntopk_lsh",
    "emb_ann_multiprobe_topk": "anntopk_lsh_multiprobe",
    "emb_pq_topk": "anntopk_pq",
    "emb_ivfpq_topk": "anntopk_ivfpq",
}


def bust(name: str) -> None:
    """Drop the result cache query ``name`` owns, if it owns one."""
    if name in RESULT_CACHES:
        matcache.invalidate_exact(RESULT_CACHES[name])


def warm(
    spark: SparkSession, sf_dir: str, queries: Mapping[str, object]
) -> dict[str, float]:
    """Run the generic warm-ups, every build, and the staging of every
    stream twin in ``queries`` (labelled ``stage:<name>``); return the
    seconds each took, in run order."""
    steps = {**GENERIC, **BUILDS}
    steps.update(
        (f"stage:{name}", fn.stage)
        for name, fn in queries.items()
        if isinstance(fn, Twin)
    )
    took: dict[str, float] = {}
    for label, step in steps.items():
        t0 = time.time()
        step(spark, sf_dir)
        took[label] = round(time.time() - t0, 3)
    return took
