"""Per-query profile over a warm session: build, optimize and execute
seconds, shuffle exchanges, broadcast joins, and the formatted plan.

Usage:
    python tools/profile_queries.py [sf_dir] [query ...]  # default: all

The session warm set (``warmset.warm``) is built first, so a query's
build time is its own work, not a cold shared artifact. Each phase is
the median of REPS runs, and a query that owns a result cache busts it
before every run:

* build    — calling the registered function (includes any eager
             staging the operator performs);
* optimize — Catalyst analysis and optimization of the built frame;
* execute  — ``count()`` over the built frame.

Prints one row per query and writes every record, with the query's
formatted plan, to OUT as JSON. Plans and timings before and after a
change are a diff of two such files.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from dataset_batch_processor_spark import warmset
from dataset_batch_processor_spark.plans import explain
from dataset_batch_processor_spark.session import get_spark

REPS = 3
OUT = "/tmp/profile_queries.json"


def profile_query(spark, sf_dir: str, name: str, fn) -> dict:
    runs = []
    for _ in range(REPS):
        warmset.bust(name)
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        df._jdf.queryExecution().optimizedPlan()
        t2 = time.time()
        rows = df.count()
        t3 = time.time()
        spark.catalog.clearCache()
        runs.append((t1 - t0, t2 - t1, t3 - t2))
    build, optimize, execute = (
        round(sorted(phase)[len(phase) // 2], 3) for phase in zip(*runs)
    )
    return {
        "build": build,
        "optimize": optimize,
        "execute": execute,
        "rows": rows,
        "exchanges": explain.count_exchanges(df),
        "broadcasts": explain.broadcast_join_count(df),
        "plan": explain.formatted_plan(df),
    }


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if argv and os.path.isdir(argv[0]):
        sf_dir = argv.pop(0)
    qs = entrymod.queries()
    unknown = sorted(set(argv) - set(qs))
    if unknown:
        sys.exit(f"unknown query name(s): {unknown}")
    names = argv or list(qs)

    spark = get_spark("profile")
    warm = warmset.warm(spark, sf_dir, qs)
    print(f"# warm set: {sum(warm.values()):.2f}s over {len(warm)} steps",
          file=sys.stderr)
    out: dict[str, dict] = {}
    for name in names:
        rec = out[name] = profile_query(spark, sf_dir, name, qs[name])
        print(
            f"{name:45s} build={rec['build']:6.2f} opt={rec['optimize']:6.2f} "
            f"exec={rec['execute']:6.2f} exchanges={rec['exchanges']:<3d} "
            f"broadcasts={rec['broadcasts']}"
        )
    with open(OUT, "w") as fh:
        json.dump({"sf_dir": sf_dir, "reps": REPS, "warm": warm,
                   "queries": out}, fh, indent=1)
    print(f"# wrote {OUT}", file=sys.stderr)


if __name__ == "__main__":
    main()
