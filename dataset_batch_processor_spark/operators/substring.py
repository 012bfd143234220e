"""Exact substring dedup: repeated-span detection, suffix-array style.

The one widely used LLM-corpus dedup family beyond MinHash/SimHash
document-level near-dup: Lee et al., "Deduplicating Training Data
Makes Language Models Better" (public) remove every substring of ≥50
tokens that repeats anywhere in the corpus, via a suffix array. A
suffix array is inherently single-machine; the distributed
re-expression here is position-wise rolling grams:

1. Hash every WIDTH-char gram at stride 1 — (doc_id, position, h).
   This table is the suffix array's moral equivalent: O(corpus bytes)
   rows, ~20 B each, built in one narrow pass (no shuffle).
2. One groupBy(h) finds grams occurring ≥2 times anywhere (across
   docs OR within one — both are repetition in Lee et al.'s sense).
3. Join positions back on h (equi-join), then a per-doc
   gaps-and-islands window merges overlapping duplicated grams into
   MAXIMAL spans; spans ≥ MIN_SPAN chars are reported.

Every repeated substring of length L ≥ WIDTH is covered by stride-1
grams at every start offset, so its merged span is recovered exactly
(no alignment/phase loss — the reason for stride 1; a strided variant
trades the guarantee for volume, winnowing-style). Hashes are 60-bit
md5 prefixes: collisions at 10^9 grams are ~1e-1 birthday-scale? No —
2^60 ≈ 1.2e18, so ~4e-4 expected collisions at 10^9 grams, and a
collision only risks extending a span by one gram.

Scale: the gram table is the big object — corpus-bytes × ~20 B rows —
but it is ONE shuffle (the count-by-h) plus one equi-join; both keys
are uniform 60-bit hashes, so no skew. The per-doc window is bounded
by document length. This is the same cost class as the decontam
inverted index, linear in corpus size; 100 TB runs it per-shard with
a global h-aggregation, exactly like every other gram operator here.

Determinism: everything is integers (positions, counts, md5-prefix
hashes) — span extents are bit-stable across engines; the driver
hash gate pins them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sqlrun import _run

WIDTH = 24       # gram width, chars
MIN_SPAN = 48    # report merged spans at least this long


def _spans_sql(dialect: str) -> str:
    spark = dialect == "spark"
    # the gram hash is internal-only (grams are compared for
    # EQUALITY; the gated output is span extents, which are
    # hash-function-independent barring a 60-bit collision), so the
    # Spark side uses the codegen-native xxhash64 — the production
    # hash substring_dup_spans_df already runs — while the DuckDB
    # oracle keeps the md5 prefix: identical spans, ~2x Spark
    # throughput (round 15; measured in OPTIMIZATION_r15.md at git
    # 0753e1d, since deleted; the same md5-vs-xxhash64 delta SCALE.md
    # records for the prodhash chain)
    if spark:
        h = f"xxhash64(substr(text, p, {WIDTH}))"
    else:
        h = f"substr(md5(substr(text, p, {WIDTH})), 1, 15)"
    if spark:
        gen = (
            "LATERAL VIEW explode(sequence(1, "
            f"length(text) - {WIDTH} + 1)) s AS p"
        )
    else:
        gen = (
            "CROSS JOIN unnest(generate_series(1, "
            f"length(text) - {WIDTH} + 1)) AS s(p)"
        )
    return f"""
WITH d AS (
  SELECT doc_id, text FROM documents WHERE length(text) >= {WIDTH}
),
grams AS (
  SELECT doc_id, p, {h} AS h
  FROM d
  {gen}
),
dpos AS (
  -- repeated-anywhere detection as ONE window over h: the gram table
  -- (the corpus-sized object) is scanned and hashed once, where a
  -- groupBy + join-back formulation builds it twice
  SELECT doc_id, p FROM (
    SELECT doc_id, p, count(*) OVER (PARTITION BY h) AS c FROM grams
  ) WHERE c >= 2
),
marked AS (
  SELECT doc_id, p,
         CASE WHEN p <= lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                   + {WIDTH}
              THEN 0 ELSE 1 END AS brk
  FROM dpos
),
islands AS (
  SELECT doc_id, p,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS isl
  FROM marked
),
spans AS (
  SELECT doc_id, min(p) AS s, max(p) + {WIDTH} - 1 AS e
  FROM islands GROUP BY doc_id, isl
)
SELECT doc_id,
       CAST(s AS BIGINT) AS span_start,
       CAST(e AS BIGINT) AS span_end,
       CAST(e - s + 1 AS BIGINT) AS span_len
FROM spans
WHERE e - s + 1 >= {MIN_SPAN}
ORDER BY doc_id, span_start
"""


SPANS_SPARK = _spans_sql("spark")
SPANS_DUCK = _spans_sql("duck")

# fanout: the stride-1 gram explode + xxhash64 is the whole scan
# stage; one-partition input serialized it (measured 2.96 -> 1.12 s
# at sf0.1, guide §2.5)
QUERIES = {"docs_substring_dedup_spans": _run(
    SPANS_SPARK, ("documents",), fanout=("documents",)
)}
ORACLES = {"docs_substring_dedup_spans": SPANS_DUCK}


def substring_dup_spans_df(
    docs: DataFrame, width: int = WIDTH, min_span: int = MIN_SPAN,
    hash_fn: str = "md5",
) -> DataFrame:
    """DataFrame-API formulation of the same pipeline (for composition
    and the amplified-scale study): (doc_id, span_start, span_end,
    span_len) of maximal repeated spans.

    ``hash_fn='md5'`` matches the oracle SQL bit-for-bit (the parity
    test relies on it). Production uses ``'xxhash64'`` — same 64-bit
    collision class, ~2× the end-to-end throughput (measured,
    SCALE.md), no cross-engine requirement."""
    d = docs.filter(F.length("text") >= width)
    gram = F.expr(f"substr(text, p, {width})")
    h = (
        F.xxhash64(gram)
        if hash_fn == "xxhash64"
        else F.substring(F.md5(gram), 1, 15)
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - width + 1)
        ).alias("p"),
        "text",
    ).select("doc_id", "p", h.alias("h"))
    # single pass over the corpus-sized gram table: one shuffle on h,
    # repeated-anywhere = windowed count (the groupBy+join-back shape
    # hashes every gram twice; measured 16.6 s -> 7.2 s at sf0.1)
    wh = Window.partitionBy("h")
    dpos = (
        grams.withColumn("c", F.count(F.lit(1)).over(wh))
        .filter(F.col("c") >= 2)
        .select("doc_id", "p")
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    marked = dpos.withColumn(
        "brk",
        F.when(F.col("p") <= F.lag("p").over(w) + width, 0).otherwise(1),
    )
    islands = marked.withColumn(
        "isl",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("doc_id", "isl")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + width - 1).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_span)
    )


# ------------------------------------------------------- apply
# Detection's other half: PRODUCE the deduplicated corpus. Lee et
# al.'s procedure removes every occurrence of a repeated substring;
# here each doc's kept text is the complement of its merged spans,
# reconstructed as ordered gap segments. One pass over the span
# table: a sentinel "span" at (len+1, len) per document turns the
# tail segment and the no-spans case into ordinary rows (no extra
# max()/anti-join references that would re-evaluate the gram
# pipeline), and the ordered concat is engine-native (sorted struct
# array on Spark, string_agg ORDER BY on DuckDB). The driver gate
# hashes md5(clean_text) per doc — a single dropped or shifted byte
# anywhere in the reconstruction flips the row.


def _apply_sql(dialect: str) -> str:
    spark = dialect == "spark"
    spans_cte = _spans_sql(dialect)
    # reuse the detection chain verbatim up to `spans`
    head, tail = spans_cte.split("\nSELECT doc_id,\n", 1)
    assert "spans AS (" in head and tail.startswith("       CAST(s AS BIGINT)")
    if spark:
        concat = (
            "concat_ws('', transform(sort_array(collect_list("
            "struct(seg_key, seg))), x -> x.seg))"
        )
    else:
        concat = "string_agg(seg, '' ORDER BY seg_key)"
    prev_e = "coalesce(lag(a.e) OVER (PARTITION BY a.doc_id ORDER BY a.s), 0)"
    return f"""{head},
kept AS (
  SELECT doc_id, s, e FROM spans WHERE e - s + 1 >= {MIN_SPAN}
  UNION ALL
  SELECT doc_id, length(text) + 1 AS s, length(text) AS e FROM documents
),
pieces AS (
  SELECT a.doc_id, a.s AS seg_key,
         substr(t.text, {prev_e} + 1, a.s - {prev_e} - 1) AS seg
  FROM kept a JOIN documents t ON t.doc_id = a.doc_id
),
cleaned AS (
  SELECT doc_id, {concat} AS clean FROM pieces GROUP BY doc_id
)
SELECT doc_id,
       CAST(length(clean) AS BIGINT) AS n_chars_clean,
       md5(clean) AS clean_md5
FROM cleaned
"""


APPLY_SPARK = _apply_sql("spark")
APPLY_DUCK = _apply_sql("duck")

QUERIES["docs_substring_dedup_apply"] = _run(
    APPLY_SPARK, ("documents",), fanout=("documents",)
)
ORACLES["docs_substring_dedup_apply"] = APPLY_DUCK
