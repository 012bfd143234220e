"""Microbenchmark: unpartitioned running-sum window vs the scalable
two-pass `textops.exclusive_prefix_sum`, on an amplified corpus.

The interesting number is not just wall time — it's the task shape:
the window form funnels EVERY row through ONE task (the WindowExec
warning), so its wall time is single-core and its memory is
corpus-sized; the two-pass form spreads the same work over all cores
with one extra tiny shuffle. Results land in SCALE.md.

Usage: python tools/prefix_sum_bench.py [n_rows]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from dataset_batch_processor_spark.operators.textops import exclusive_prefix_sum
from dataset_batch_processor_spark.session import get_spark


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    spark = get_spark("prefix_bench")
    df = (
        spark.range(n)
        .select(
            F.col("id"),
            F.pmod(F.xxhash64("id"), F.lit(997)).alias("w"),
        )
        .repartition(32)
        .persist()
    )
    df.count()

    t0 = time.time()
    window_form = df.withColumn(
        "ps",
        F.coalesce(
            F.sum("w").over(
                Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    w_sum = window_form.agg(F.sum(F.col("ps") * F.col("w"))).collect()[0][0]
    t_window = time.time() - t0

    t0 = time.time()
    two_pass = exclusive_prefix_sum(df, ["id"], "w", out_col="ps")
    p_sum = two_pass.agg(F.sum(F.col("ps") * F.col("w"))).collect()[0][0]
    t_two_pass = time.time() - t0

    assert w_sum == p_sum, (w_sum, p_sum)  # identical results
    print(
        f"n={n}  window(single-task)={t_window:.1f}s  "
        f"two-pass={t_two_pass:.1f}s  speedup={t_window / t_two_pass:.1f}x  "
        f"(checksum equal: {w_sum})"
    )


if __name__ == "__main__":
    main()
