"""Training-data EXPORT pipeline: from curated corpus to the exact
token stream a trainer reads.

Thin driver over the packaged flow (dataset_batch_processor_spark/
export.py — see its docstring for the five stages). Picks up where
dedup_pipeline.py stops (a clean, deduped corpus).

Usage: python examples/export_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataset_batch_processor_spark.export import export_plan
from dataset_batch_processor_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("export_pipeline")
    kept, emb, packed, manifest = export_plan(spark, sf_dir)
    print(f"kept docs:  {kept.count()}")
    print(f"embeddings: {emb.count()}")
    print(f"packed:     {packed.count()}")
    for r in manifest.collect():
        print(
            f"shard {r.shard}: {r.n_docs} docs, {r.n_units} units, "
            f"seqs [{r.min_seq}, {r.max_seq}]"
        )


if __name__ == "__main__":
    main()
