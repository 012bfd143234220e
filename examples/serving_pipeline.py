"""Inference/serving-side data plan: the engine's answer to "the
model is trained — now feed the serving fleet", composing the
round-12/13 serving-facing operators end-to-end:

  1. padded-batch plan    — length-bucketed batching with exact
                            padding-waste accounting (batching.py)
  2. prefix-grouped order — serve conversations so shared prompt
                            prefixes land adjacently for KV-cache
                            reuse (chat serving order)
  3. ANN serving probe    — load a persisted IVF index and probe it
                            (no retraining, no corpus re-assignment)
  4. live admission       — the streaming quota twin admits a
                            reproducible per-source sample of the
                            incoming request log

Usage: python examples/serving_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataset_batch_processor_spark.operators import batching, chat, similarity
from dataset_batch_processor_spark.session import get_spark


def serve_plan(spark, sf_dir: str) -> dict:
    """The four serving-side artifacts, as DataFrames (testable)."""
    from dataset_batch_processor_spark.streaming import quotagate

    return {
        "batch_plan": batching._q_padded_batch_plan(spark, sf_dir),
        "serving_order": chat.QUERIES["docs_chat_serving_order"](
            spark, sf_dir
        ),
        "ann_served": similarity._q_ivf_serving_topk(spark, sf_dir),
        "admitted": quotagate.QUERIES["docs_stream_quota_sample"](
            spark, sf_dir
        ),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("serving-pipeline")

    arts = serve_plan(spark, sf_dir)
    print("padded-batch plan:")
    arts["batch_plan"].show(truncate=False)
    print("serving order (first 8 slots):")
    order = arts["serving_order"]
    order.orderBy(*order.columns[:1]).show(8, truncate=60)
    print(f"ANN serving probe: {arts['ann_served'].count()} top-k rows")
    print(f"streamed quota admission: {arts['admitted'].count()}"
          " docs admitted")


if __name__ == "__main__":
    main()
