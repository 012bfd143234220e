"""Token-level winnowing + the overlap-pairs detector (round 15).

Schleimer, Wilkerson, Aiken, "Winnowing: Local Algorithms for
Document Fingerprinting" (SIGMOD 2003, public — the MOSS algorithm):
hash every K-token gram, slide a window of W consecutive gram
hashes, keep the MINIMUM of each window. The guarantee: any shared
run of at least W+K-1 tokens between two documents yields at least
one shared selected fingerprint, while only ~2/(W+1) of all gram
hashes are kept — position-aware copy detection at a fraction of
full-shingle cost.

Family split vs the EXISTING char-level winnow
(textanalysis.docs_winnow_fingerprint, Karp-Rabin char 12-grams via
posexplode + per-doc windows): that query pins the per-doc
CHAR-granular fingerprint op; this module is the CROSS-DOC
DETECTION half the family was missing — TOKEN grams (the MOSS
configuration for source/text reuse: char grams fire on substrings
of single words, token grams only on real shared phrasing) extracted
by a per-row higher-order-function chain, then the capped
fingerprint equi-join that actually finds the overlapping pairs.
Complements the near-dup families: MinHash estimates SET similarity
(order-free), winnowing pairs certify CONTIGUOUS overlap (the
plagiarism/quotation/boilerplate shape).

Both stages are engine-friendly at 100 TB:

* fingerprint extraction is ONE per-row higher-order-function chain
  (grams -> hashes -> per-window mins -> distinct) — whole-stage
  codegen, zero shuffles, zero joins, output ~2m/(W+1) values per
  m-gram doc;
* overlap pairs are the banded-LSH join shape: explode the selected
  fingerprints, drop hot fingerprints above a cap (one boilerplate
  fingerprint shared by B docs would emit B²/2 pairs) and unfold the
  (a < b) pairs per fingerprint — dedup.capped_groups + unfold_pairs —
  then count shared values per pair.

Hash parity: the house md5 28-bit base hash — Spark
``conv(substr(md5(g),1,7),16,10)`` == DuckDB
``CAST(concat('0x', substr(md5(g),1,7)) AS BIGINT)`` (the
dedup.shingle_sets idiom), so DuckDB replays the selection exactly.
Window tie-breaks don't matter for the gate: the selected VALUE set
is what both engines compute (min of each window), and min is
position-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from .dedup import capped_groups, unfold_pairs
from .sqlrun import _run

WINNOW_K = 4     # tokens per gram
WINNOW_W = 5     # gram hashes per window
FP_DOC_CAP = 64  # drop fingerprints appearing in more docs (hot cap)
MIN_SHARED = 2   # pair gate: shared selected fingerprints


def _selected_core(dialect: str) -> str:
    """WITH-chain prefix ending in ``selected(doc_id, n_grams,
    fp_arr)`` — the distinct selected fingerprints as ONE per-row
    array (no explode, no join yet). A doc with fewer than K tokens
    has no grams and drops out; a doc with fewer than W grams gets
    one window spanning all of them (the standard short-doc
    degeneration)."""
    k, w = WINNOW_K, WINNOW_W
    if dialect == "spark":
        toks = "SELECT doc_id, split(text, ' ') AS t FROM documents"
        grams = (
            f"transform(sequence(1, size(t) - {k} + 1),"
            f" i -> conv(substr(md5(array_join(slice(t, i, {k}), ' ')),"
            f" 1, 7), 16, 10))"
        )
        hs = (f"SELECT doc_id, transform({grams}, x -> CAST(x AS BIGINT))"
              f" AS h FROM toks WHERE size(t) >= {k}")
        mins = (
            f"transform(sequence(1, greatest(size(h) - {w} + 1, 1)),"
            f" j -> array_min(slice(h, j, {w})))"
        )
        sel = (f"SELECT doc_id, size(h) AS n_grams,"
               f" array_distinct({mins}) AS fp_arr FROM hashed")
    else:
        toks = "SELECT doc_id, string_split(text, ' ') AS t FROM documents"
        grams = (
            f"list_transform(generate_series(1, len(t) - {k} + 1),"
            f" i -> CAST(concat('0x', substr(md5(array_to_string("
            f"list_slice(t, i, i + {k} - 1), ' ')), 1, 7)) AS BIGINT))"
        )
        hs = (f"SELECT doc_id, {grams} AS h FROM toks"
              f" WHERE len(t) >= {k}")
        mins = (
            f"list_transform(generate_series(1, greatest(len(h) - {w} + 1,"
            f" 1)), j -> list_min(list_slice(h, j, j + {w} - 1)))"
        )
        sel = (f"SELECT doc_id, len(h) AS n_grams,"
               f" list_distinct({mins}) AS fp_arr FROM hashed")
    return f"""toks AS ({toks}),
hashed AS ({hs}),
selected AS ({sel})"""


def _fps_core(dialect: str) -> str:
    """``_selected_core`` + ``fps(doc_id, fp)`` exploded — the
    pair-join input. Exploding ``fp_arr`` projected straight off the
    ``hashed`` CTE (not the wider ``selected``) keeps the inlined
    expression tree minimal where the self-join duplicates it."""
    k, w = WINNOW_K, WINNOW_W
    if dialect == "spark":
        mins = (
            f"transform(sequence(1, greatest(size(h) - {w} + 1, 1)),"
            f" j -> array_min(slice(h, j, {w})))"
        )
        sel = (f"SELECT doc_id, explode(array_distinct({mins})) AS fp"
               f" FROM hashed")
    else:
        mins = (
            f"list_transform(generate_series(1, greatest(len(h) - {w} + 1,"
            f" 1)), j -> list_min(list_slice(h, j, j + {w} - 1)))"
        )
        sel = (f"SELECT doc_id, unnest(list_distinct({mins})) AS fp"
               f" FROM hashed")
    return f"""{_selected_core(dialect)},
fps AS ({sel})"""


def _fp_card_sql(dialect: str) -> str:
    """Per-doc fingerprint card: how many grams the doc has, how many
    fingerprints winnowing kept (the ~2/(W+1) density check), and the
    value range — compact, corpus-auditable, and a direct pin of the
    whole selection chain. Entirely per-row (array aggregates over
    ``fp_arr``): no explode, no join, no shuffle beyond the sort."""
    n = "size" if dialect == "spark" else "len"
    amin = "array_min" if dialect == "spark" else "list_min"
    amax = "array_max" if dialect == "spark" else "list_max"
    return f"""
WITH {_selected_core(dialect)}
SELECT doc_id,
       CAST(n_grams AS INT) AS n_grams,
       CAST({n}(fp_arr) AS INT) AS n_fps,
       {amin}(fp_arr) AS min_fp,
       {amax}(fp_arr) AS max_fp
FROM selected
ORDER BY doc_id
"""


def _pairs_sql(dialect: str) -> str:
    """Contiguous-overlap candidate pairs: (doc_a < doc_b, n_shared
    selected fingerprints >= MIN_SHARED). Hot fingerprints (> cap
    docs) are dropped BEFORE the self-join — the dedup.lsh_pairs_df
    hot-bucket stance, here sized by document frequency."""
    return f"""
WITH {_fps_core(dialect)},
df AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {FP_DOC_CAP}
),
cold AS (SELECT f.doc_id, f.fp FROM fps f JOIN df USING (fp))
SELECT a.doc_id AS doc_a,
       b.doc_id AS doc_b,
       CAST(count(*) AS INT) AS n_shared
FROM cold a JOIN cold b
  ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {MIN_SHARED}
ORDER BY doc_a, doc_b
"""


def overlap_pairs_df(spark: SparkSession) -> DataFrame:
    """``_pairs_sql``'s rows from the ``documents`` view by dedup's
    capped pair primitive: ONE evaluation of the winnow chain and one
    fp exchange instead of the self-join's two inlined chains and
    three exchanges. ``fps`` emits distinct (doc_id, fp), so the
    guard's window count is the fingerprint's document frequency.
    ``_pairs_sql`` stays the self-join spec both dialects share."""
    fps = spark.sql(f"WITH {_fps_core('spark')} SELECT fp, doc_id FROM fps")
    pairs = unfold_pairs(
        capped_groups(fps, ("fp",), FP_DOC_CAP, min_members=2)
    )
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared"))
        .filter(F.col("n_shared") >= MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


def _q_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout: the winnow fingerprint chain is the scan stage and the
    # one-partition input serialized it (2.81 -> 1.11 s, guide §2.5)
    catalog.fanout(
        catalog.load_table(spark, sf_dir, "documents")
    ).createOrReplaceTempView("documents")
    return overlap_pairs_df(spark)


QUERIES = {
    "docs_winnow_fingerprints": _run(_fp_card_sql("spark"), ("documents",)),
    "docs_winnow_overlap_pairs": _q_overlap_pairs,
}
ORACLES = {
    "docs_winnow_fingerprints": _fp_card_sql("duck"),
    "docs_winnow_overlap_pairs": _pairs_sql("duck"),
}
