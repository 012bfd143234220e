"""examples/sft_pipeline.py — the composed SFT flow runs end to end
on sf0.001 and the JSONL roundtrip is lossless: the render of the
rebuilt corpus is byte-identical to rendering the original documents
for every conversation that survives the gates."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples"))

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.operators import chat

SF = "/root/testdata/sf0.001"


def test_sft_pipeline_end_to_end(spark, tmp_path):
    import sft_pipeline

    out = str(tmp_path / "sft")
    m = sft_pipeline.run(spark, SF, out)

    n_docs = catalog.load_table(spark, SF, "documents").count()
    assert m["n_conversations_in"] == n_docs
    assert sum(m["validate_reasons"].values()) == n_docs
    assert 0 < m["n_conversations_clean"] <= m["validate_reasons"]["ok"]
    assert m["n_decontam_hits"] > 0         # the planted leaks fired
    assert m["n_sequences"] > 0
    assert m["tokens_packed"] > 0
    assert m["mask_chars_total"] > 0

    # published artifacts exist
    assert os.path.isdir(os.path.join(out, "rendered"))
    assert os.path.isdir(os.path.join(out, "packed"))
    published = spark.read.parquet(os.path.join(out, "rendered"))
    assert published.count() == m["n_conversations_clean"]

    # JSONL-roundtrip losslessness: re-render the ORIGINAL documents
    # and compare byte-for-byte on the surviving ids
    catalog.load_table(spark, SF, "documents").createOrReplaceTempView(
        "documents"
    )
    original = {
        r["doc_id"]: (r["n_turns"], r["render_len"], r["render_md5"])
        for r in spark.sql(chat.CHAT_RENDER_SPARK).collect()
    }
    for r in published.collect():
        got = (r["n_turns"], r["render_len"], r["render_md5"])
        assert got == original[r["doc_id"]], r["doc_id"]
