"""Text-analysis operators for training-data curation.

Extension surface (SURVEY.md §0 north star): language ID, quality
scoring, token counting, document fingerprinting — each a declarative
plan over the ``documents`` table, each DuckDB-oracled.

Scale shape: every query is scan → narrow per-row expressions →
(at most) one groupBy shuffle. Token explosion stays bounded because
aggregation is per-doc (map-side combine collapses it before the
shuffle).

Float rule: only ratios of integers (single correctly-rounded IEEE
division — deterministic on both engines).
"""

from __future__ import annotations

from .. import catalog
from .sqlrun import _run

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_SW_LIST_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# ------------------------------------------------------------ token stats

TOKEN_STATS_SPARK = """
WITH toks AS (
  SELECT doc_id, token
  FROM (SELECT doc_id, explode(split(text, ' ')) AS token FROM documents)
  WHERE length(token) > 0
)
SELECT doc_id,
       count(*) AS n_tokens,
       count(DISTINCT token) AS n_distinct_tokens,
       CAST(sum(length(token)) AS BIGINT) AS sum_token_chars,
       CAST(sum(length(token)) AS DOUBLE) / count(*) AS avg_token_len
FROM toks GROUP BY doc_id
"""

TOKEN_STATS_DUCK = """
WITH toks AS (
  SELECT doc_id, token
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE length(token) > 0
)
SELECT doc_id,
       count(*) AS n_tokens,
       count(DISTINCT token) AS n_distinct_tokens,
       CAST(sum(length(token)) AS BIGINT) AS sum_token_chars,
       CAST(sum(length(token)) AS DOUBLE) / count(*) AS avg_token_len
FROM toks GROUP BY doc_id
"""

# ---------------------------------------------------------- quality score
# Heuristic quality signals: stopword ratio (fluency proxy),
# type-token ratio (repetitiveness), mean token length. The composite
# score is a linear blend of integer ratios — deterministic doubles.

QUALITY_SPARK = f"""
WITH toks AS (
  SELECT doc_id, token
  FROM (SELECT doc_id, explode(split(text, ' ')) AS token FROM documents)
  WHERE length(token) > 0
),
stats AS (
  SELECT doc_id,
         count(*) AS n_tokens,
         count(DISTINCT token) AS n_distinct,
         sum(CASE WHEN token IN ({_SW_LIST_SQL}) THEN 1 ELSE 0 END) AS n_stop
  FROM toks GROUP BY doc_id
)
SELECT d.doc_id, d.n_chars, s.n_tokens,
       CAST(s.n_stop AS DOUBLE) / s.n_tokens AS stopword_ratio,
       CAST(s.n_distinct AS DOUBLE) / s.n_tokens AS type_token_ratio,
       CAST(d.n_chars AS DOUBLE) / s.n_tokens AS chars_per_token,
       CAST(s.n_stop AS DOUBLE) / s.n_tokens
         + CAST(s.n_distinct AS DOUBLE) / s.n_tokens AS quality_score
FROM documents d JOIN stats s ON d.doc_id = s.doc_id
"""

QUALITY_DUCK = f"""
WITH toks AS (
  SELECT doc_id, token
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE length(token) > 0
),
stats AS (
  SELECT doc_id,
         count(*) AS n_tokens,
         count(DISTINCT token) AS n_distinct,
         sum(CASE WHEN token IN ({_SW_LIST_SQL}) THEN 1 ELSE 0 END) AS n_stop
  FROM toks GROUP BY doc_id
)
SELECT d.doc_id, d.n_chars, s.n_tokens,
       CAST(s.n_stop AS DOUBLE) / s.n_tokens AS stopword_ratio,
       CAST(s.n_distinct AS DOUBLE) / s.n_tokens AS type_token_ratio,
       CAST(d.n_chars AS DOUBLE) / s.n_tokens AS chars_per_token,
       CAST(s.n_stop AS DOUBLE) / s.n_tokens
         + CAST(s.n_distinct AS DOUBLE) / s.n_tokens AS quality_score
FROM documents d JOIN stats s ON d.doc_id = s.doc_id
"""

# ------------------------------------------------------------ language ID
# N-gram-free marker-word heuristic: count hits against per-language
# marker lists, pick the argmax with a deterministic tiebreak
# (hit count DESC, then language code ASC), 'und' when zero hits.

_MARKERS = {
    "en": ("the", "a", "is", "of", "and"),
    "fr": ("le", "la", "les", "et", "est"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "los", "las", "es", "y"),
}


def _lang_case(engine: str) -> str:
    # one hit-count expression per language, then a greatest-based argmax
    parts = []
    for lang, words in _MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        parts.append(
            f"CAST(sum(CASE WHEN token IN ({lst}) THEN 1 ELSE 0 END) AS BIGINT) AS hits_{lang}"
        )
    return ",\n         ".join(parts)


_LANG_BODY = """
SELECT doc_id, hits_en, hits_fr, hits_de, hits_es,
       CASE
         WHEN hits_en = 0 AND hits_fr = 0 AND hits_de = 0 AND hits_es = 0
           THEN 'und'
         WHEN hits_en >= hits_fr AND hits_en >= hits_de AND hits_en >= hits_es
           THEN 'en'
         WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
         WHEN hits_es >= hits_fr THEN 'es'
         ELSE 'fr'
       END AS lang_guess
FROM hits
"""

# Exported Spark-side CTE chain too (round 8 late), so the confusion
# audit below shares the exact token/hit SQL with the classifier.
def lang_chain_spark(src: str = "documents") -> str:
    """The token/hit CTE chain over any (doc_id, text) relation —
    parameterized so composing queries (curation funnel, lang-ID
    distillation over planted text) name their source explicitly
    instead of string-patching the constant (round-10 review #3)."""
    return f"""toks AS (
  SELECT doc_id, token
  FROM (SELECT doc_id, explode(split(text, ' ')) AS token FROM {src})
  WHERE length(token) > 0
),
hits AS (
  SELECT doc_id,
         {_lang_case('spark')}
  FROM toks GROUP BY doc_id
)"""


LANG_CHAIN_SPARK = lang_chain_spark()

LANG_ID_SPARK = f"""
WITH {LANG_CHAIN_SPARK}
{_LANG_BODY}
"""

# Exported CTE chain (toks -> hits) so composing oracles (the
# curation funnel) share the exact token/hit SQL instead of a copy.
def lang_chain_duck(src: str = "documents") -> str:
    return f"""toks AS (
  SELECT doc_id, token
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM {src})
  WHERE length(token) > 0
),
hits AS (
  SELECT doc_id,
         {_lang_case('duck')}
  FROM toks GROUP BY doc_id
)"""


LANG_CHAIN_DUCK = lang_chain_duck()

LANG_ID_DUCK = f"""
WITH {LANG_CHAIN_DUCK}
{_LANG_BODY}
"""



# --------------------------------------------- lang-ID confusion audit
# The evaluation harness for the classifier above: the fixture's
# labeled `lang` column is ground truth, so the confusion matrix
# (actual x predicted counts) and per-language recall are computable
# exactly — the audit every pipeline runs before trusting a lang
# filter to route 100 TB. Note the marker-based classifier has no
# 'zh' markers: the matrix VISIBLY shows where zh mass lands, which
# is the point of the audit. Same CTE chain as the classifier (no
# copy that could drift); one small-key agg on top.

_CONFUSION_TAIL = """
, pred AS (
{body}
)
SELECT d.lang AS actual,
       p.lang_guess AS predicted,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents d JOIN pred p ON d.doc_id = p.doc_id
GROUP BY d.lang, p.lang_guess
ORDER BY actual, predicted
"""

LANGID_CONFUSION_SPARK = (
    f"WITH {LANG_CHAIN_SPARK}" + _CONFUSION_TAIL.format(body=_LANG_BODY)
)
LANGID_CONFUSION_DUCK = (
    f"WITH {LANG_CHAIN_DUCK}" + _CONFUSION_TAIL.format(body=_LANG_BODY)
)

# ------------------------------------------------------- fingerprinting
# Bottom-k document sketch (winnowing-style): the 4 lexicographically
# smallest md5(shingle) values per doc. Shared shingle definition with
# the dedup module (width 8, stride 4).

FINGERPRINT_SPARK = """
WITH shingles AS (
  SELECT DISTINCT doc_id, substr(text, p, 8) AS shingle
  FROM documents
  LATERAL VIEW explode(sequence(1, greatest(length(text) - 7, 1), 4)) t AS p
  WHERE length(text) >= 8
),
hashed AS (
  SELECT doc_id, md5(shingle) AS fp_hash,
         row_number() OVER (PARTITION BY doc_id ORDER BY md5(shingle)) AS fp_rank
  FROM shingles
)
SELECT doc_id, CAST(fp_rank AS INT) AS fp_rank, fp_hash
FROM hashed WHERE fp_rank <= 4
"""

FINGERPRINT_DUCK = """
WITH shingles AS (
  SELECT DISTINCT doc_id, substr(text, CAST(p AS INT), 8) AS shingle
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, len(text) - 7, 4)) AS p)
  WHERE len(text) >= 8
),
hashed AS (
  SELECT doc_id, md5(shingle) AS fp_hash,
         row_number() OVER (PARTITION BY doc_id ORDER BY md5(shingle)) AS fp_rank
  FROM shingles
)
SELECT doc_id, CAST(fp_rank AS INT) AS fp_rank, fp_hash
FROM hashed WHERE fp_rank <= 4
"""


# --------------------------------- quality-vs-length rank correlation
# "Is my quality filter just a length filter?" — the curation audit
# that catches a heuristic score which secretly ranks documents by
# size. Spearman's rho (public closed form, 1 - 6*sum(d^2)/(n(n^2-1)))
# over the TIE-BROKEN ranks of quality_score and n_chars (both ranked
# under the total order (value, doc_id) — the deterministic variant;
# with near-unique doubles the average-rank correction is sub-ppm and
# engine-portability wins). All integers until one sign-handled
# _scaled_div to ppm (integer DIV truncates toward zero in Spark but
# FLOORS in DuckDB, so the negative branch negates a positive split —
# dialect-identical). Spark side ranks via the two-pass
# textops.attach_rank — never an unpartitioned window. int64 ledger:
# 6*sum(d^2) <= 2n(n^2-1), so both sign branches divide an operand
# <= n(n²-1) — but _scaled_div multiplies that n³-scale operand by
# 1000 for the ppm split, so the exact closed form holds to
# n³·1000 < 2^63, i.e. n ~2.1e5 docs (ADVICE r14 — the earlier
# ~2.1e6 claim ignored the ×1000); past that run it on a
# deterministic doc_id % k sample (the diagnostic does not need the
# full corpus) or lift d2 to DECIMAL(38,0) on both engines.


def _spearman_rho_expr(div: str) -> str:
    from .corpusstats import _scaled_div

    den = "n * (n * n - 1)"
    num = f"{den} - 6 * d2"
    return f"""CASE WHEN n < 2 THEN 0
     WHEN ({num}) >= 0
     THEN {_scaled_div(f'({num})', 1000, 1000, f'({den})', div)}
     ELSE -({_scaled_div(f'(6 * d2 - {den})', 1000, 1000,
                         f'({den})', div)})
END"""


_SPEARMAN_FINAL_SPARK = f"""
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum((rq - rl) * (rq - rl)) AS BIGINT) AS d2
  FROM _sp_ranks
)
SELECT n AS n_docs, d2 AS sum_d2,
       CAST({_spearman_rho_expr("DIV")} AS BIGINT) AS rho_ppm
FROM s
"""


def _q_quality_length_spearman(spark, sf_dir):
    from .. import catalog
    from .textops import attach_rank

    catalog.load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    base = spark.sql(QUALITY_SPARK).select(
        "doc_id", "n_chars", "quality_score"
    )
    rq = attach_rank(
        base.select("doc_id", "quality_score"),
        ["quality_score", "doc_id"], out_col="rq",
    ).select("doc_id", "rq")
    rl = attach_rank(
        base.select("doc_id", "n_chars"),
        ["n_chars", "doc_id"], out_col="rl",
    ).select("doc_id", "rl")
    rq.join(rl, "doc_id").createOrReplaceTempView("_sp_ranks")
    return spark.sql(_SPEARMAN_FINAL_SPARK)


SPEARMAN_DUCK = f"""
WITH ranks AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY quality_score, doc_id) AS rq,
         row_number() OVER (ORDER BY n_chars, doc_id) AS rl
  FROM ({QUALITY_DUCK})
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum((rq - rl) * (rq - rl)) AS BIGINT) AS d2
  FROM ranks
)
SELECT n AS n_docs, d2 AS sum_d2,
       CAST({_spearman_rho_expr("//")} AS BIGINT) AS rho_ppm
FROM s
"""


QUERIES = {
    "docs_token_stats": _run(TOKEN_STATS_SPARK, ("documents",)),
    "docs_quality_score": _run(QUALITY_SPARK, ("documents",)),
    "docs_quality_length_spearman": _q_quality_length_spearman,
    "docs_lang_id": _run(LANG_ID_SPARK, ("documents",)),
    "docs_langid_confusion": _run(LANGID_CONFUSION_SPARK, ("documents",)),
    "docs_fingerprint": _run(  # fanned: 1.15 -> 0.91 s
        FINGERPRINT_SPARK, ("documents",), fanout=("documents",)
    ),
}

ORACLES = {
    "docs_token_stats": TOKEN_STATS_DUCK,
    "docs_quality_score": QUALITY_DUCK,
    "docs_quality_length_spearman": SPEARMAN_DUCK,
    "docs_lang_id": LANG_ID_DUCK,
    "docs_langid_confusion": LANGID_CONFUSION_DUCK,
    "docs_fingerprint": FINGERPRINT_DUCK,
}


# ------------------------------------------------- rolling-hash winnowing
# Karp-Rabin polynomial rolling hash over 8-char windows (stride 1),
# winnowed with a window of 4: keep min(hash) of every 4 consecutive
# window hashes, dedupe per doc — the classic winnowing fingerprint
# (local algorithm => document sketches robust to insertion/deletion).
# Pure integer arithmetic mod a small prime: B^j mod P constants are
# folded in Python, every product stays < 2^31 — exact in both engines.

KR_B = 257
KR_P = 1_000_003
KR_W = 8  # chars per hash window
WIN_W = 4  # winnowing window (hashes)

_KR_POWS = [pow(KR_B, j, KR_P) for j in range(KR_W)]

_KR_TERMS_DUCK = " + ".join(
    f"ascii(substr(text, CAST(p AS INT) + {j}, 1)) * {_KR_POWS[j]}"
    for j in range(KR_W)
)

_KR_LEAD_TERMS = " + ".join(
    ["c * {0}".format(_KR_POWS[0])]
    + [f"lead(c, {j}) OVER w * {_KR_POWS[j]}" for j in range(1, KR_W)]
)

# Spark side: posexplode the char array once, then build each window
# hash from lead() columns — every operator is JVM-native (window
# exec), avoiding both the O(len^2) substr-per-position scan and the
# interpreted higher-order-function lambda (transform() lambdas do
# not participate in whole-stage codegen).
WINNOW_SPARK = f"""
WITH codes AS (
  SELECT doc_id, pos + 1 AS p, ascii(ch) AS c, length(text) AS n
  FROM documents
  LATERAL VIEW posexplode(split(text, '')) t AS pos, ch
  WHERE length(text) >= {KR_W}
),
leads AS (
  SELECT doc_id, p, n,
         ({_KR_LEAD_TERMS}) % {KR_P} AS h
  FROM codes
  WINDOW w AS (PARTITION BY doc_id ORDER BY p)
),
winnowed AS (
  SELECT doc_id, p, n,
         min(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW AND {WIN_W - 1} FOLLOWING) AS fp
  FROM leads
  WHERE p <= n - {KR_W} + 1
)
SELECT DISTINCT doc_id, fp
FROM winnowed
WHERE p <= n - {KR_W} + 1 - {WIN_W - 1}
"""

WINNOW_DUCK = f"""
WITH hashes AS (
  SELECT doc_id, CAST(p AS INT) AS p, ({_KR_TERMS_DUCK}) % {KR_P} AS h,
         len(text) AS n
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, len(text) - {KR_W} + 1)) AS p)
  WHERE len(text) >= {KR_W}
),
winnowed AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW AND {WIN_W - 1} FOLLOWING) AS fp,
         p, n
  FROM hashes
)
SELECT DISTINCT doc_id, fp
FROM winnowed
WHERE p <= n - {KR_W} + 1 - {WIN_W - 1}
"""

def winnow_fingerprints_arrow(docs):
    """Round 15 (optimization guide §4.2): the per-char posexplode +
    12-lead window + min-window pipeline, as ONE Arrow batch kernel.
    Exact-integer twin of WINNOW_SPARK: codepoints via a vectorized
    utf-32 reinterpret (= Spark ``ascii(ch)`` per char), Karp-Rabin
    hashes as an int64 sliding-window matmul against the same
    ``_KR_POWS`` (bounded by 8 * 0x10FFFF * KR_P ~ 9e12, exact),
    window minima + per-doc unique = the SQL's min-over-window +
    global DISTINCT. The DuckDB oracle keeps the SQL spelling."""
    import numpy as np
    import pandas as pd

    POW = np.array(_KR_POWS, dtype=np.int64)

    def run(batches):
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            ids_out, fps_out = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                t = text or ""
                if len(t) < KR_W:
                    continue
                a = np.frombuffer(
                    t.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                H = (sliding_window_view(a, KR_W) @ POW) % KR_P
                if len(H) < WIN_W:
                    continue
                u = np.unique(
                    sliding_window_view(H, WIN_W).min(axis=1)
                )
                ids_out.append(np.full(len(u), doc_id, dtype=np.int64))
                fps_out.append(u)
            if ids_out:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids_out),
                        "fp": np.concatenate(fps_out).astype(np.int32),
                    }
                )

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, fp int"
    )


def _q_winnow_fingerprint(spark, sf_dir):
    from .. import catalog

    # fanout (guide §2.5): the Arrow winnow kernel ran in one task on
    # the one-row-group scan; 0.78 -> 0.59 s at sf0.1
    return winnow_fingerprints_arrow(
        catalog.fanout(catalog.load_table(spark, sf_dir, "documents"))
    )


QUERIES["docs_winnow_fingerprint"] = _q_winnow_fingerprint
ORACLES["docs_winnow_fingerprint"] = WINNOW_DUCK


# ----------------------------------------------- repetition metrics
# Gopher-style repetition filters (Rae et al. 2021, "Scaling Language
# Models" quality heuristics, public): fraction of duplicate words /
# bigrams / trigrams per document — the standard cheap screen for
# degenerate, loopy text before pre-training. Computed entirely with
# array expressions (split -> transform -> array_distinct), so the
# whole thing is one narrow codegen'd projection: no explode, no
# shuffle, linear scan at 100 TB.

REPETITION_SPARK = """
SELECT doc_id,
       n_words,
       round(1.0 - n_distinct / CAST(n_words AS DOUBLE), 6)
           AS dup_word_frac,
       coalesce(round(1.0 - n_dist_bi / CAST(n_bi AS DOUBLE), 6), 0.0)
           AS dup_bigram_frac,
       coalesce(round(1.0 - n_dist_tri / CAST(n_tri AS DOUBLE), 6), 0.0)
           AS dup_trigram_frac
FROM (
  SELECT doc_id,
         size(ws) AS n_words,
         size(array_distinct(ws)) AS n_distinct,
         size(bi) AS n_bi, size(array_distinct(bi)) AS n_dist_bi,
         size(tri) AS n_tri, size(array_distinct(tri)) AS n_dist_tri
  FROM (
    SELECT doc_id, ws,
           transform(sequence(1, size(ws) - 1),
                     i -> concat(ws[i - 1], ' ', ws[i])) AS bi,
           CASE WHEN size(ws) >= 3
                THEN transform(sequence(2, size(ws) - 1),
                     i -> concat(ws[i - 2], ' ', ws[i - 1], ' ', ws[i]))
                ELSE array() END AS tri
    FROM (SELECT doc_id, split(text, ' ') AS ws FROM documents)
  )
)
"""

REPETITION_DUCK = """
SELECT doc_id,
       n_words,
       round(1.0 - n_distinct / CAST(n_words AS DOUBLE), 6)
           AS dup_word_frac,
       coalesce(round(1.0 - n_dist_bi / CAST(n_bi AS DOUBLE), 6), 0.0)
           AS dup_bigram_frac,
       coalesce(round(1.0 - n_dist_tri / CAST(n_tri AS DOUBLE), 6), 0.0)
           AS dup_trigram_frac
FROM (
  SELECT doc_id,
         CAST(len(ws) AS INT) AS n_words,
         CAST(len(list_distinct(ws)) AS INT) AS n_distinct,
         CAST(len(bi) AS INT) AS n_bi,
         CAST(len(list_distinct(bi)) AS INT) AS n_dist_bi,
         CAST(len(tri) AS INT) AS n_tri,
         CAST(len(list_distinct(tri)) AS INT) AS n_dist_tri
  FROM (
    SELECT doc_id, ws,
           list_transform(generate_series(2, len(ws)),
                          i -> ws[i - 1] || ' ' || ws[i]) AS bi,
           CASE WHEN len(ws) >= 3
                THEN list_transform(generate_series(3, len(ws)),
                     i -> ws[i - 2] || ' ' || ws[i - 1] || ' ' || ws[i])
                ELSE [] END AS tri
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  )
)
"""

QUERIES["docs_repetition_metrics"] = _run(REPETITION_SPARK, ("documents",))
ORACLES["docs_repetition_metrics"] = REPETITION_DUCK


# ------------------------------------- content-defined chunking (CDC)
# Rabin-style CDC over the SAME Karp-Rabin window hashes winnowing
# builds: a chunk boundary falls wherever the rolling hash is
# divisible by CDC_MOD (expected chunk ~ CDC_MOD chars). CDC is the
# storage-level dedup primitive (variable-size chunks survive inserts
# that shift byte offsets, where fixed-size blocks all change). Same
# scale shape as winnowing: posexplode + lead() windows, all
# JVM-native; docs shorter than the hash window are excluded like
# winnowing excludes them.

CDC_MOD = 64

CDC_SPARK = f"""
WITH codes AS (
  SELECT doc_id, pos + 1 AS p, ascii(ch) AS c, length(text) AS n
  FROM documents
  LATERAL VIEW posexplode(split(text, '')) t AS pos, ch
  WHERE length(text) >= {KR_W}
),
leads AS (
  SELECT doc_id, p, n,
         ({_KR_LEAD_TERMS}) % {KR_P} AS h
  FROM codes
  WINDOW w AS (PARTITION BY doc_id ORDER BY p)
)
SELECT doc_id,
       CAST(min(n) AS INT) AS n_chars,
       CAST(sum(CASE WHEN h % {CDC_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boundaries,
       CAST(sum(CASE WHEN h % {CDC_MOD} = 0 THEN 1 ELSE 0 END) + 1 AS BIGINT)
           AS n_chunks
FROM leads
WHERE p <= n - {KR_W} + 1
GROUP BY doc_id
ORDER BY doc_id
"""

CDC_DUCK = f"""
WITH hashes AS (
  SELECT doc_id, ({_KR_TERMS_DUCK}) % {KR_P} AS h, len(text) AS n
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, len(text) - {KR_W} + 1)) AS p)
  WHERE len(text) >= {KR_W}
)
SELECT doc_id,
       CAST(min(n) AS INT) AS n_chars,
       CAST(sum(CASE WHEN h % {CDC_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boundaries,
       CAST(sum(CASE WHEN h % {CDC_MOD} = 0 THEN 1 ELSE 0 END) + 1 AS BIGINT)
           AS n_chunks
FROM hashes
GROUP BY doc_id
ORDER BY doc_id
"""

QUERIES["docs_cdc_chunks"] = _run(CDC_SPARK, ("documents",))
ORACLES["docs_cdc_chunks"] = CDC_DUCK
