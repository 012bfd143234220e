"""Pre-mix corpus report: the one-page health check a training-data
pipeline prints before adding a source to the mixture.

Composes the stats surface into a single pass over the documents +
embeddings fixtures:

  1. per-source dataset card  (docs, chars, langs, exact-dup rate)
  2. vocabulary concentration (top-k token-mass coverage)
  3. near-subset duplicates   (containment over the shared pair graph)
  4. repeated-span audit      (exact substring dedup: how many chars
                               of the corpus are verbatim repeats)
  5. semantic-dup audit       (SemDeDup survivors vs corpus size)
  6. token budget             (real BPE subword counts vs raw chars)
  7. embedding norm histogram (collapsed/exploded embedding check)
  8. snapshot diff            (what changed since the last curation run)

Usage: python examples/corpus_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.operators import (
    bpe,
    corpusstats,
    dataops,
    dedup,
    semdedup,
    similarity,
    substring,
)
from pyspark.sql import functions as F
from dataset_batch_processor_spark.session import get_spark


def report(spark, sf_dir: str) -> None:
    print("== per-source card ==")
    corpusstats.QUERIES["corpus_source_summary"](spark, sf_dir).show(
        5, truncate=False
    )

    print("== vocabulary concentration ==")
    corpusstats.QUERIES["docs_vocab_coverage"](spark, sf_dir).show(
        truncate=False
    )

    print("== near-subset duplicate pairs (containment >= 0.9) ==")
    docs = catalog.load_table(spark, sf_dir, "documents")
    cont = dedup.containment_verify_df(
        docs, pairs=dedup.pair_graph(spark, sf_dir)
    )
    cont.filter("is_subset_dup").orderBy("doc_a", "doc_b").show(10)

    print("== repeated-span audit (exact substring dedup) ==")
    spans = substring.QUERIES["docs_substring_dedup_spans"](spark, sf_dir)
    total_chars = docs.agg(F.sum(F.length("text"))).first()[0]
    dup_chars = spans.agg(F.coalesce(F.sum("span_len"), F.lit(0))).first()[0]
    print(
        f"  {dup_chars:,} of {total_chars:,} chars sit in repeated "
        f"spans >= {substring.MIN_SPAN} chars "
        f"({100.0 * dup_chars / total_chars:.1f}%)"
    )

    print("== semantic duplicates (SemDeDup) ==")
    surv = semdedup.QUERIES["emb_semdedup_survivors"](spark, sf_dir)
    n_emb = catalog.load_table(spark, sf_dir, "embeddings").count()
    n_surv = surv.count()
    print(
        f"  {n_surv:,} of {n_emb:,} embeddings survive at "
        f"eps={semdedup.EPS} ({100.0 * (n_emb - n_surv) / n_emb:.1f}% "
        "semantic dups removed)"
    )

    print("== token budget (real BPE) ==")
    bpe.QUERIES["docs_bpe_subword_tokens"](spark, sf_dir).agg(
        F.sum("n_words").alias("words"),
        F.sum("n_char_symbols").alias("char_symbols"),
        F.sum("n_subword_tokens").alias("bpe_tokens"),
    ).show()

    print("== embedding norm histogram ==")
    similarity.QUERIES["emb_norm_histogram"](spark, sf_dir).show()

    print("== snapshot diff vs simulated re-crawl ==")
    diff = dataops.QUERIES["docs_snapshot_diff"](spark, sf_dir)
    diff.groupBy("status").count().orderBy("status").show()


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    report(get_spark("corpus_report"), sf)
