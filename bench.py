"""Benchmark harness: every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

The session warm set (``warmset.warm``) is built first, so each query
times its own work over warm session artifacts, and a query that owns
a result cache (``warmset.RESULT_CACHES``) busts it before every rep.
Each rep times ``df.count()``. The HEADLINE queries run
$SPARK_GRAFT_BENCH_REPS times (default 3) and record the median; every
other query runs once.

Prints ONE JSON line and writes no file:
    {"metric": "headline_queries_total_wall", "value": N, "unit": "sec",
     "queries": {name: s, ...}, "warm": {label: s, ...}, "sf": ..., ...}

``value`` sums the HEADLINE queries, the set BASELINE.md compares
against; ``all_total`` sums every query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from dataset_batch_processor_spark import warmset
from dataset_batch_processor_spark.session import get_spark

# The 25-query headline set BASELINE.md compares against.
HEADLINE = (
    "tile_grid",
    "route_images",
    "caption_join",
    "dedup_lines",
    "split_chunks",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "q7_volume_shipping",
    "top_customers_per_nation",
    "events_hourly",
    "events_sessionize",
    "dedup_exact_docs",
    "minhash_lsh_pairs",
    "minhash_jaccard_verify",
    "simhash_signatures",
    "emb_cosine_topk",
    "emb_ivf_topk",
    "docs_quality_score",
    "docs_bpe_tokens",
    "docs_winnow_fingerprint",
    "asof_latest_order",
    "event_followups_within_hour",
    "docs_shard_packing",
    "q10_returned_items",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    reps_headline = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    spark = get_spark("bench")

    qs = entrymod.queries()
    warm = warmset.warm(spark, sf_dir, qs)
    timings: dict[str, float] = {}
    for name, fn in qs.items():
        runs: list[float] = []
        n = 0
        for _ in range(reps_headline if name in HEADLINE else 1):
            warmset.bust(name)
            t0 = time.time()
            n = fn(spark, sf_dir).count()  # executes without driver collect cost
            runs.append(time.time() - t0)
            # queries persist() intermediates; drop leftover cached
            # blocks so later queries aren't squeezed by earlier
            # storage memory
            spark.catalog.clearCache()
        runs.sort()
        timings[name] = round(runs[len(runs) // 2], 3)
        print(f"# {name}: {n} rows in {timings[name]:.2f}s "
              f"(median of {len(runs)})", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(timings[n] for n in HEADLINE), 3),
                "unit": "sec",
                "queries": timings,
                "warm": warm,
                "sf": sf,
                "all_total": round(sum(timings.values()), 3),
                "n_queries": len(timings),
                "headline_reps": reps_headline,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
