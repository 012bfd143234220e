"""Web-corpus ingestion pipeline: raw HTML -> training-ready text.

The upstream half the other examples assume already happened —
this is the CCNet/RefinedWeb-shaped front of the funnel, built
entirely from the packaged operators:

  1. extract   — block-level boilerplate removal (jusText-style link
                 density; operators/boilerplate.py) over raw pages
  2. scrub     — PII masking + entity/whitespace normalization
                 (operators/textclean.clean_text)
  3. de-repeat — within-document paragraph dedup (C4 rule;
                 textclean.dedup_paragraphs)
  4. gate      — Gopher quality rules + blocklist budget
                 (operators/webquality.py)
  5. select    — DSIR importance scoring toward the target slice
                 (operators/dsir.py); keep above-median docs
  6. report    — per-stage attrition counts (the funnel view)

Pages here are synthesized deterministically from the fixture
documents (nav/sidebar/footer chrome around the text — the
boilerplate.py fixture), standing in for fetched HTML.

Usage: python examples/web_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.operators import (
    boilerplate,
    dsir,
    textclean,
    webquality,
)
from dataset_batch_processor_spark.session import get_spark


def web_pipeline(spark, sf_dir: str):
    """Returns (clean_docs, funnel) — the surviving corpus and the
    per-stage attrition report."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1. extract main text from (synthesized) HTML pages
    pages = docs.select("doc_id", "lang", F.expr(boilerplate._PAGE).alias("html"))
    extracted = boilerplate.extract_main_text(pages, "html").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    with_text = extracted.filter(F.length("main_text") > 0)
    n1 = with_text.count()

    # 2+3. scrub PII / normalize, then drop repeated paragraphs
    cleaned = with_text.select(
        "doc_id",
        "lang",
        textclean.dedup_paragraphs(
            textclean.clean_text(F.col("main_text"))
        ).alias("text"),
    )

    # 4. quality gates on the CLEANED text
    gated = (
        cleaned.join(
            webquality.gopher_quality(cleaned).select(
                "doc_id", "passes_gopher"
            ),
            "doc_id",
        )
        .join(
            webquality.blocklist_filter(cleaned).select("doc_id", "n_hits"),
            "doc_id",
        )
        .filter(F.col("passes_gopher") & (F.col("n_hits") <= 3))
        .select("doc_id", "lang", "text")
    )
    n2 = gated.count()

    # 5. DSIR selection: keep the above-median target-likeness half
    scores = dsir.dsir_scores(gated)
    cut = scores.agg(
        F.expr("percentile_approx(dsir_score_ppm, 0.5)").alias("cut")
    )
    selected = (
        scores.crossJoin(F.broadcast(cut))
        .filter(F.col("dsir_score_ppm") >= F.col("cut"))
        .join(gated, "doc_id")
        .select("doc_id", "lang", "text")
    )
    n3 = selected.count()

    funnel = spark.createDataFrame(
        [
            ("0_raw_pages", n0),
            ("1_extracted", n1),
            ("2_quality_gated", n2),
            ("3_dsir_selected", n3),
        ],
        "stage string, n_docs long",
    )
    return selected, funnel


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("web_pipeline")
    selected, funnel = web_pipeline(spark, sf_dir)
    for r in funnel.collect():
        print(f"{r.stage:>18}: {r.n_docs}")
    print(f"sample: {selected.limit(1).collect()[0].text[:80]!r}")


if __name__ == "__main__":
    main()
