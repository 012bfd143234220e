"""Block-level boilerplate removal for web-scraped training text.

The extraction stage every web-corpus pipeline runs between "fetch
HTML" and "quality-filter text" (jusText / Pomikalek 2011, and the
same block/link-density idea in trafilatura and the WET extractors):
segment a page into block-level units, score each block by link
density and stopword density, keep the content blocks, drop
navigation / sidebar / footer chrome. Extension surface — the
reference (majidfida/DataSet-Batch-Processor) strips tags wholesale
(our textclean.strip_html mirrors that); this operator is the
block-aware upgrade that saves the text tag-stripping would drown in
menu noise.

Simplifications vs full jusText, documented: classification is
context-free (no short-block neighbor propagation) and the block
boundary is the closing tag of the block-level elements the fixture
uses. Thresholds are integer ppm — the classifier is exact integer
arithmetic end to end, so the DuckDB oracle hash-gates the full
extraction including the recovered main text bytes (md5).

The stopword-density signal is computed per block and REPORTED
(per-doc ``avg_stop_ppm``), but the classification rule defaults to
off (``min_stop_ppm=0``): jusText's stopword test assumes natural
language, and corpora like the synthetic fixture (or code, tables,
non-Latin scripts without a matching stopword list) legitimately
contain stopword-free content blocks. Callers with natural-language
input enable it by passing a threshold.

Scale shape: split → posexplode is narrow per-document work; the
only shuffle is the per-doc reassembly groupBy, which partial-aggs
to one row per document before the exchange. Everything is JVM
regexp/array expressions — no Python in the row path, no joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog

# RE2-compatible (DuckDB) AND Java-regex-compatible patterns only.
BLOCK_SPLIT_RE = "</p>|</div>|</li>|</h1>|</h2>"
TAG_RE = "<[^>]*>"
LINK_TEXT_RE = "<a [^>]*>([^<]*)</a>"
WS_RE = "[ \\t\\n\\r]+"

STOPWORDS = ("the", "a", "of", "and", "in", "or", "to")
MIN_WORDS = 8                # below this a block can't be content
MAX_LINK_PPM = 200_000       # >20% link chars = navigation chrome
_PPM = 1_000_000


def _block_frame(
    df: DataFrame, html_col: str, min_stop_ppm: int = 0
) -> DataFrame:
    """One row per non-empty block with its classification signals."""
    blocks = df.select(
        "doc_id",
        F.posexplode(
            F.split(F.col(html_col), BLOCK_SPLIT_RE)
        ).alias("idx", "blk"),
    )
    txt = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("blk"), TAG_RE, " "), WS_RE, " "
        )
    )
    scored = blocks.select(
        "doc_id",
        "idx",
        txt.alias("txt"),
        F.aggregate(
            F.transform(
                F.regexp_extract_all("blk", F.lit(LINK_TEXT_RE), F.lit(1)),
                lambda s: F.length(s),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("link_chars"),
    ).filter(F.col("txt") != "")
    words = F.filter(F.split(F.col("txt"), " "), lambda w: w != "")
    return scored.select(
        "doc_id",
        "idx",
        "txt",
        "link_chars",
        F.size(words).alias("n_words"),
        F.size(
            F.filter(words, lambda w: w.isin(*STOPWORDS))
        ).alias("stop_words"),
    ).select(
        "*",
        F.expr(
            f"link_chars * {_PPM} DIV greatest(length(txt), 1)"
        ).alias("link_ppm"),
        F.expr(
            f"stop_words * {_PPM} DIV greatest(n_words, 1)"
        ).alias("stop_ppm"),
    ).select(
        "*",
        (
            (F.col("n_words") >= MIN_WORDS)
            & (F.col("link_ppm") <= MAX_LINK_PPM)
            & (F.col("stop_ppm") >= min_stop_ppm)
        ).alias("is_good"),
    )


def extract_main_text(
    df: DataFrame, html_col: str = "html", min_stop_ppm: int = 0
) -> DataFrame:
    """Per input row: block counts, boilerplate volume, the corpus-
    level stopword-density signal, and the reassembled main text
    (good blocks in page order, newline-joined). Expects a ``doc_id``
    key column alongside ``html_col``."""
    per_block = _block_frame(df, html_col, min_stop_ppm)
    good_struct = F.when(
        F.col("is_good"), F.struct("idx", "txt")
    )  # collect_list drops the NULLs for bad blocks
    return (
        per_block.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_blocks"),
            F.sum(F.col("is_good").cast("int")).cast("int").alias("n_good"),
            F.sum(
                F.when(~F.col("is_good"), F.length("txt")).otherwise(0)
            ).cast("long").alias("boiler_chars"),
            F.max("link_ppm").alias("max_link_ppm"),
            F.expr(
                f"sum(stop_words) * {_PPM} DIV greatest(sum(n_words), 1)"
            ).alias("avg_stop_ppm"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(good_struct)),
                    lambda s: s.getField("txt"),
                ),
                "\n",
            ).alias("main_text"),
        )
    )


# -------------------------------------------------------------- query

# Deterministic fixture page, built from the SAME SQL string on both
# engines (textclean._WRAP pattern): nav + two content paragraphs
# (the second carries one inline link to prove low-link-density
# content survives) + link-heavy sidebar + footer.
_PAGE = (
    "'<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/about\">About"
    "</a> <a href=\"/contact\">Contact</a></div>"
    "<p>' || substr(text, 1, CAST(floor(length(text) / 2) AS INT))"
    " || '</p><p>' || substr(text,"
    " CAST(floor(length(text) / 2) AS INT) + 1)"
    " || ' see <a href=\"/more\">details here</a></p>"
    "<div class=\"side\">Related: <a href=\"/r1\">read more</a>"
    " <a href=\"/r2\">click here</a></div>"
    "<p>Copyright <a href=\"/terms\">Terms</a>"
    " <a href=\"/privacy\">Privacy</a></p>'"
)


def _q_boilerplate_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    pages = docs.select("doc_id", F.expr(_PAGE).alias("html"))
    out = extract_main_text(pages, "html")
    return out.select(
        "doc_id",
        "n_blocks",
        "n_good",
        "boiler_chars",
        "max_link_ppm",
        "avg_stop_ppm",
        F.length("main_text").alias("main_len"),
        F.md5("main_text").alias("main_md5"),
    )


_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)

BOILERPLATE_DUCK = f"""
WITH pages AS (
  SELECT doc_id, {_PAGE} AS html FROM documents
),
split_pages AS (
  SELECT doc_id,
         regexp_split_to_array(html, '{BLOCK_SPLIT_RE}') AS arr
  FROM pages
),
blocks AS (
  SELECT doc_id, p.idx,
         trim(regexp_replace(
           regexp_replace(arr[p.idx], '{TAG_RE}', ' ', 'g'),
           '{WS_RE}', ' ', 'g')) AS txt,
         CAST(coalesce(list_sum(list_transform(
           regexp_extract_all(arr[p.idx], '{LINK_TEXT_RE}', 1),
           s -> len(s))), 0) AS BIGINT) AS link_chars
  FROM split_pages,
       LATERAL (SELECT unnest(generate_series(1, len(arr))) AS idx) p
),
scored AS (
  SELECT doc_id, idx, txt, link_chars,
         len(list_filter(string_split(txt, ' '), w -> w <> ''))
           AS n_words,
         len(list_filter(string_split(txt, ' '),
             w -> w IN ({_STOP_LIST}))) AS stop_words
  FROM blocks WHERE txt <> ''
),
classified AS (
  SELECT *,
         link_chars * {_PPM} // greatest(length(txt), 1) AS link_ppm,
         (n_words >= {MIN_WORDS}
          AND link_chars * {_PPM} // greatest(length(txt), 1)
              <= {MAX_LINK_PPM}) AS is_good
  FROM scored
)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_blocks,
       CAST(count(*) FILTER (WHERE is_good) AS INT) AS n_good,
       CAST(coalesce(sum(length(txt)) FILTER (WHERE NOT is_good), 0)
            AS BIGINT) AS boiler_chars,
       CAST(max(link_ppm) AS BIGINT) AS max_link_ppm,
       CAST(sum(stop_words) * {_PPM} // greatest(sum(n_words), 1)
            AS BIGINT) AS avg_stop_ppm,
       CAST(length(coalesce(
         string_agg(txt, chr(10) ORDER BY idx) FILTER (WHERE is_good),
         '')) AS INT) AS main_len,
       md5(coalesce(
         string_agg(txt, chr(10) ORDER BY idx) FILTER (WHERE is_good),
         '')) AS main_md5
FROM classified
GROUP BY doc_id
"""

QUERIES = {"docs_boilerplate_extract": _q_boilerplate_extract}
ORACLES = {"docs_boilerplate_extract": BOILERPLATE_DUCK}
