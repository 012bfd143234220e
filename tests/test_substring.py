"""Substring dedup spans (operators/substring.py)."""

from __future__ import annotations

from dataset_batch_processor_spark.operators import substring


def _spans(spark, rows):
    """SPANS_SPARK (the registered query's SQL) over planted docs."""
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).createOrReplaceTempView("documents")
    return spark.sql(substring.SPANS_SPARK)


def test_known_repeated_span_is_recovered_exactly(spark):
    """A shared 80-char block planted at known offsets in two docs
    must come back as one maximal span per doc with exact extents —
    the stride-1 no-phase-loss guarantee."""
    import random

    rng = random.Random(42)  # aperiodic fillers: no incidental repeats
    shared = (
        "X [shared boilerplate agreement clause number 12345678 "
        "applies verbatim to both documents herein] Y"
    )
    assert len(shared) >= 80
    filler = lambda n: "".join(
        chr(97 + rng.randrange(26)) for _ in range(n)
    )
    a = "A" + filler(100) + shared
    b = shared + "B" + filler(90)
    spans = {
        r.doc_id: (r.span_start, r.span_end)
        for r in _spans(spark, [(1, a), (2, b)]).collect()
    }
    # doc 1: span covers exactly the shared suffix (1-based)
    assert spans[1] == (len(a) - len(shared) + 1, len(a))
    # doc 2: span covers exactly the shared prefix
    assert spans[2] == (1, len(shared))


def test_within_doc_repetition_is_detected(spark):
    """Lee et al. count within-document repetition too: one doc
    containing the same 60-char block twice must report both spans."""
    import random

    rng = random.Random(7)
    block = "the same exact block of text repeated twice in one doc!! "
    filler = "".join(chr(97 + rng.randrange(26)) for _ in range(70))
    text = block + filler + block
    spans = sorted(
        (r.span_start, r.span_end)
        for r in _spans(spark, [(7, text)]).collect()
    )
    assert len(spans) == 2
    assert spans[0] == (1, len(block))
    assert spans[1] == (len(block) + len(filler) + 1, len(text))


def test_no_false_spans_on_unique_text(spark):
    docs = [
        (1, "".join(__import__("random").Random(1).choices(
            "abcdefghijklmnopqrstuvwxyz", k=300))),
        (2, "".join(__import__("random").Random(2).choices(
            "abcdefghijklmnopqrstuvwxyz", k=300))),
    ]
    assert _spans(spark, docs).count() == 0


def test_apply_removes_planted_spans_exactly(spark):
    """Reconstruction check against a Python reference: plant one
    long repeated block in two docs; the cleaned text must be exactly
    the original minus every merged duplicated span."""
    import hashlib

    block = "THE-REPEATED-BLOCK-" * 5  # 95 chars >> MIN_SPAN
    docs = [
        (1, "aaa-unique-head-111 " + block + " unique-tail-111"),
        (2, "bbb-unique-head-222 " + block + " unique-tail-222"),
        (3, "totally unrepeated document body with enough length here"),
        (4, "x"),  # shorter than WIDTH: passes through untouched
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df.createOrReplaceTempView("documents")
    got = {
        r["doc_id"]: (r["n_chars_clean"], r["clean_md5"])
        for r in spark.sql(substring.APPLY_SPARK).collect()
    }
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in spark.sql(substring.SPANS_SPARK).collect()
    }
    for doc_id, text in docs:
        if doc_id in spans:
            s, e = spans[doc_id]
            clean = text[: s - 1] + text[e:]
        else:
            clean = text
        assert got[doc_id] == (
            len(clean),
            hashlib.md5(clean.encode()).hexdigest(),
        ), doc_id
    # the planted block is gone from the cleaned docs
    assert got[1][0] < len(docs[0][1]) - 80
    assert got[3][0] == len(docs[2][1])
    assert got[4][0] == 1
