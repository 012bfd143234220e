"""Round-15 optimization profiler: split each query's wall into
(a) DataFrame build time (fn call — includes any eager staging /
localCheckpoint the operator performs), (b) optimize/explain time
(driver-side Catalyst work, a proxy for plan-complexity cost), and
(c) execution time (noop-style count over the built frame).

Usage:
    python tools/r15_profile.py [sf_dir] [query ...]     # default: top-N by BENCH_DETAIL
    SPARK_GRAFT_PROFILE_TOP=40 python tools/r15_profile.py

Writes /tmp/r15_profile.json and prints a sorted table. The bench's
session-shared warmup artifacts are built first (same as bench.py) so
each query's build time is its own work, not a cold shared artifact.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from dataset_batch_processor_spark.session import get_spark


def warmup(spark, sf_dir):
    from dataset_batch_processor_spark.operators import (
        components,
        curationfunnel,
        dedup,
        dedupdash,
        similarity,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.groupBy("l_returnflag").count().count()
    spark.range(128).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    from dataset_batch_processor_spark import catalog as _cat

    n_docs = _cat.load_table(spark, sf_dir, "documents").count()
    dedup.pair_graph(spark, sf_dir).count()
    dedup.jaccard_truth(
        spark, sf_dir, panel_mod=dedup.truth_panel_mod(n_docs)
    ).count()
    components.doc_dup_labels(spark, sf_dir).count()
    curationfunnel.doc_gates(spark, sf_dir).count()
    dedupdash.dhash_labels(spark, sf_dir).count()
    dedupdash.phash_labels(spark, sf_dir).count()
    similarity.ivf_flat_assign(spark, sf_dir).count()
    similarity._trained_index(spark, sf_dir)
    similarity.trained_assign_df(spark, sf_dir).count()
    similarity.persisted_index_dir(spark, sf_dir)
    from dataset_batch_processor_spark.operators import bpe, langid, perceptron

    perceptron.train_trajectory(spark, sf_dir)
    langid.corpus_feats_df(spark, sf_dir).count()
    langid.corpus_teach_df(spark, sf_dir).count()
    langid.nb_model_df(spark, sf_dir).count()
    bpe.bpe_merges_artifact(spark, sf_dir).count()
    from dataset_batch_processor_spark.streaming.fixtures import Twin

    for fn in entrymod.queries().values():
        if isinstance(fn, Twin):
            fn.stage(spark, sf_dir)


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    names = argv[1:]
    spark = get_spark("r15_profile")
    qs = entrymod.queries()
    if not names:
        top = int(os.environ.get("SPARK_GRAFT_PROFILE_TOP", "45"))
        with open(
            os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "BENCH_DETAIL.json")
        ) as fh:
            detail = json.load(fh)
        ranked = sorted(
            detail["queries"].items(), key=lambda kv: -kv[1]
        )
        names = [k for k, _ in ranked[:top]]
    warmup(spark, sf_dir)
    from dataset_batch_processor_spark import matcache

    DERIVED_CACHED = {
        "emb_ivf_topk": "anntopk_ivf",
        "emb_ann_lsh_topk": "anntopk_lsh",
        "emb_ann_multiprobe_topk": "anntopk_lsh_multiprobe",
        "emb_pq_topk": "anntopk_pq",
        "emb_ivfpq_topk": "anntopk_ivfpq",
    }
    out: dict[str, dict] = {}
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"?? unknown query {name}", file=sys.stderr)
            continue
        if name in DERIVED_CACHED:
            matcache.invalidate_exact(DERIVED_CACHED[name])
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        # optimizedPlan forces analysis + optimization only
        df._jdf.queryExecution().optimizedPlan()
        t2 = time.time()
        df.count()
        t3 = time.time()
        spark.catalog.clearCache()
        out[name] = {
            "build": round(t1 - t0, 3),
            "optimize": round(t2 - t1, 3),
            "execute": round(t3 - t2, 3),
            "total": round(t3 - t0, 3),
        }
        print(
            f"{name:45s} build={t1-t0:6.2f} opt={t2-t1:6.2f} "
            f"exec={t3-t2:6.2f} total={t3-t0:6.2f}",
            file=sys.stderr,
        )
    with open("/tmp/r15_profile.json", "w") as fh:
        json.dump(out, fh, indent=1)
    ranked = sorted(out.items(), key=lambda kv: -kv[1]["total"])
    print(json.dumps({k: v for k, v in ranked}, indent=1))


if __name__ == "__main__":
    main()
