"""SFT / chat-format data operators: render, loss mask, turn dedup.

Once pretraining data is curated, every LLM pipeline turns to
fine-tuning data: role/turn-structured conversations rendered through
a chat template into one training string, with a LOSS MASK that
trains only on assistant spans, and deduplication at TURN granularity
(a boilerplate assistant reply repeated across thousands of
conversations is the classic SFT contamination). The reference has no
structured-text counterpart — its closest analogue is the caption
attached to every tile (/root/reference/modules/tiling.py:71-75); this
family extends that "text rides along with the unit of training data"
idea to multi-turn conversations.

Deterministic conversation construction (the lmobjectives.py seeding
pattern): the ``documents`` token stream is cut into turns of
``3 + (md5(doc_id) % 6)`` tokens, alternating user/assistant, under a
constant system turn. Every "random" choice is an md5-derived integer,
so both engines replay it exactly.

Template: the ChatML wire format (public: OpenAI ChatML spec, also
used verbatim by Qwen) —

    <|im_start|>ROLE\\ncontent<|im_end|>\\n

rendered as pure string concatenation; the loss mask is pure integer
arithmetic over per-turn rendered lengths (the FIM cut-point idiom,
lmobjectives.py), so spans are exact char offsets into the rendered
string: ``[mask_start, mask_end)`` 0-based, verified against an
independent Python renderer in tests/test_chat.py.

Scale posture: tokenize is one narrow explode; turn assembly and the
render/mask are groupBy doc_id (+ per-doc windows bounded by one
document — the lmscore.py posture); turn dedup shuffles 16-byte
digests, never turn text (the dedup_lines posture, textops.py). No
floats anywhere, so the gate is exact by construction.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from .. import catalog
from .sqlrun import _run

TURN_MIN = 3          # shortest turn, tokens
TURN_MOD = 6          # turn_len = TURN_MIN + h % TURN_MOD  in [3, 8]
IM_START = "<|im_start|>"
IM_END = "<|im_end|>"
SYSTEM_PROMPT = "You are a helpful assistant."
SYS_RENDERED = f"{IM_START}system\n{SYSTEM_PROMPT}{IM_END}\n"
SYS_LEN = len(SYS_RENDERED)  # 58
HDR_LEN = len(IM_START)      # 12
FTR_LEN = len(IM_END) + 1    # 11, includes the trailing newline

# md5-derived integer (28-bit hex prefix), per-engine spelling — the
# lmobjectives.py house idiom.
_H_SPARK = (
    "CAST(conv(substr(md5(concat(doc_id, ':tl')), 1, 7), 16, 10) AS BIGINT)"
)
_H_DUCK = (
    "CAST(concat('0x', substr(md5(concat(doc_id, ':tl')), 1, 7)) AS BIGINT)"
)

# Tokenize + renumber kept tokens 0..n-1 per doc (row_number is a
# per-doc window — bounded by one document). The empty-token filter
# keeps content a single-spaced token join in both engines.
def toks_spark(src: str = "documents") -> str:
    """Tokenize CTE over any (doc_id, text) relation — parameterized
    (review-finding #2/#3 convention) so the streaming twin can run
    the same chain over a micro-batch view.

    Round 15 (optimization guide §2.4, remove shuffles outright):
    filtering empties INSIDE the array before posexplode yields the
    kept-token positions 0..n-1 directly — identical (doc_id, pos,
    token) rows to the old renumbering window, without the
    corpus-wide Exchange+sort on doc_id the window forced on every
    chat/pack-family consumer. The DuckDB oracle keeps the
    row_number spelling, so the hash gate pins the equivalence."""
    return f"""toks AS (
  SELECT doc_id, pos, token
  FROM {src}
  LATERAL VIEW posexplode(filter(split(text, ' '),
                                 x -> length(x) > 0)) t AS pos, token
)"""


def toks_duck(src: str = "documents") -> str:
    return f"""toks AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos0) - 1 AS pos,
         token
  FROM (SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos0,
               unnest(string_split(text, ' ')) AS token
        FROM {src})
  WHERE length(token) > 0
)"""


_TOKS_SPARK = toks_spark()
_TOKS_DUCK = toks_duck()

# Turn assembly: seeded per-doc turn length, integer-div turn ids,
# alternating roles, content = ordered token join. {div} is the
# trunc-div spelling (both operands nonnegative here); {agg} is the
# engine's ordered-string-agg idiom.
_TURNS_BODY = f"""tl AS (
  SELECT doc_id, {TURN_MIN} + ({{h}} % {TURN_MOD}) AS turn_len
  FROM {{src}}
),
turns AS (
  SELECT doc_id, turn_id,
         CASE WHEN turn_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
         {{content_agg}} AS content
  FROM (
    SELECT t.doc_id, t.pos, t.token, t.pos {{div}} l.turn_len AS turn_id
    FROM toks t JOIN tl l ON t.doc_id = l.doc_id
  )
  GROUP BY doc_id, turn_id
)"""

_CONTENT_AGG_SPARK = (
    "array_join(transform(array_sort(collect_list(struct(pos, token))),"
    " x -> x.token), ' ')"
)
_CONTENT_AGG_DUCK = "array_to_string(list(token ORDER BY pos), ' ')"

def turns_spark(src: str = "documents") -> str:
    return _TURNS_BODY.format(
        h=_H_SPARK, div="DIV", content_agg=_CONTENT_AGG_SPARK, src=src
    )


def turns_duck(src: str = "documents") -> str:
    return _TURNS_BODY.format(
        h=_H_DUCK, div="//", content_agg=_CONTENT_AGG_DUCK, src=src
    )


_TURNS_SPARK = turns_spark()
_TURNS_DUCK = turns_duck()

# ------------------------- session-materialized turns (round 15)
# Every chat/pack-family consumer opens with the SAME
# ``WITH toks, tl, turns`` chain over the documents table — the
# tokenize explode plus the per-turn sorted-collect aggregation,
# ~0.5-1.5 s of identical work re-run by ~15 registered queries.
# ``chat_turns`` materializes the turns table once per (session,
# dataset) — the pair_graph/minhash_sigs convention — and
# ``run_with_mat_turns`` swaps the chain head for a scan of it
# (toks stays in the WITH for the one tail that reads it; an
# unreferenced CTE is pruned at analysis). Turns are deterministic
# (content is the pos-sorted token join), so every consumer's value
# is unchanged by construction, and each consumer's DuckDB oracle —
# which keeps the full inline spelling — re-proves it.

_CHAIN_SPARK = f"WITH {_TOKS_SPARK},\n{_TURNS_SPARK}"
_MAT_TURNS_VIEW = "chat_turns_mat"
_CHAIN_MAT = (
    f"WITH {_TOKS_SPARK},\n"
    f"turns AS (SELECT * FROM {_MAT_TURNS_VIEW})"
)


def chat_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, turn_id, role, content) — the assembled chat turns,
    materialized once per (session, dataset)."""
    from ..matcache import materialize_once

    def build() -> DataFrame:
        # fanout (guide §2.5): the tokenize explode is the scan stage
        catalog.fanout(
            catalog.load_table(spark, sf_dir, "documents")
        ).createOrReplaceTempView("documents")
        return spark.sql(
            _CHAIN_SPARK
            + "\nSELECT doc_id, turn_id, role, content FROM turns"
        )

    return materialize_once(spark, "chat_turns", sf_dir, build)


def run_with_mat_turns(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Run a ``WITH toks, tl, turns`` chain query with the turns CTE
    swapped for the session-materialized table. Raises if the seam
    text is absent (review r13 #2: textual surgery must fail loudly,
    never silently no-op)."""
    if _CHAIN_SPARK not in sql:
        raise ValueError("run_with_mat_turns: chain seam missing from SQL")
    # ADVICE r15 #4: the materialized chain drops the intermediate
    # ``tl`` CTE — a consumer tail referencing it would pass the seam
    # check and only fail later at analysis (or silently bind to
    # something else). Reject it here, loudly. Only relation
    # references count (``FROM tl``, ``JOIN tl``, ``tl.col``), outside
    # string literals and ``--`` comments: a literal 'tl' or a column
    # aliased ``AS tl`` is valid SQL over the materialized chain.
    import re

    tail = sql.split(_CHAIN_SPARK, 1)[1]
    tail = re.sub(r"'(?:[^']|'')*'|--[^\n]*", " ", tail)
    if re.search(r"\b(?:FROM|JOIN)\s+tl\b|\btl\s*\.", tail, re.IGNORECASE):
        raise ValueError(
            "run_with_mat_turns: consumer tail references the `tl` "
            "CTE, which the materialized chain does not provide — "
            "run it on the inline chain instead"
        )
    chat_turns(spark, sf_dir).createOrReplaceTempView(_MAT_TURNS_VIEW)
    catalog.load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(sql.replace(_CHAIN_SPARK, _CHAIN_MAT, 1))


def _run_mat(sql: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return run_with_mat_turns(spark, sf_dir, sql)

    return q

# Per-turn rendered piece: <|im_start|>role\ncontent<|im_end|>\n.
# chr(10) on both sides — no literal-newline escaping differences.
_PIECE = (
    f"'{IM_START}' || role || chr(10) || content || '{IM_END}' || chr(10)"
)
_SYS_SQL = (
    f"'{IM_START}system' || chr(10) || '{SYSTEM_PROMPT}'"
    f" || '{IM_END}' || chr(10)"
)

# ------------------------------------------------------------- render

_RENDER_TAIL = f"""
SELECT doc_id,
       CAST(count(*) AS INT) AS n_turns,
       CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS INT)
           AS n_assistant,
       CAST(length({{sys}} || {{piece_agg}}) AS INT) AS render_len,
       md5({{sys}} || {{piece_agg}}) AS render_md5
FROM (SELECT doc_id, turn_id, role, {_PIECE} AS piece FROM turns)
GROUP BY doc_id
"""

_PIECE_AGG_SPARK = (
    "array_join(transform(array_sort(collect_list(struct(turn_id, piece))),"
    " x -> x.piece), '')"
)
_PIECE_AGG_DUCK = "array_to_string(list(piece ORDER BY turn_id), '')"

CHAT_RENDER_SPARK = (
    f"WITH {_TOKS_SPARK},\n{_TURNS_SPARK}"
    + _RENDER_TAIL.format(sys=_SYS_SQL, piece_agg=_PIECE_AGG_SPARK)
)
CHAT_RENDER_DUCK = (
    f"WITH {_TOKS_DUCK},\n{_TURNS_DUCK}"
    + _RENDER_TAIL.format(sys=_SYS_SQL, piece_agg=_PIECE_AGG_DUCK)
)

# ---------------------------------------------------------- loss mask
# Char-offset spans of assistant CONTENT in the rendered string,
# 0-based [mask_start, mask_end): turn offset = SYS_LEN + prefix sum
# of prior piece lengths (per-doc window); content starts after
# '<|im_start|>' + role + '\n'. All integers.

_MASK_TAIL = f"""
, lens AS (
  SELECT doc_id, turn_id, role,
         {HDR_LEN} + length(role) + 1 + length(content) + {FTR_LEN}
             AS piece_len,
         length(content) AS content_len
  FROM turns
),
offs AS (
  SELECT doc_id, turn_id, role, content_len,
         {SYS_LEN} + coalesce(sum(piece_len) OVER (
             PARTITION BY doc_id ORDER BY turn_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS turn_off
  FROM lens
),
spans AS (
  SELECT doc_id, turn_id,
         turn_off + {HDR_LEN} + length(role) + 1 AS mask_start,
         turn_off + {HDR_LEN} + length(role) + 1 + content_len AS mask_end
  FROM offs
  WHERE role = 'assistant'
)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_spans,
       CAST(sum(mask_end - mask_start) AS BIGINT) AS mask_chars,
       md5({{span_agg}}) AS spans_md5
FROM (SELECT doc_id, turn_id,
             CAST(mask_start AS BIGINT) AS mask_start,
             CAST(mask_end AS BIGINT) AS mask_end,
             mask_start || ':' || mask_end AS span_txt
      FROM spans)
GROUP BY doc_id
"""

_SPAN_AGG_SPARK = (
    "array_join(transform(array_sort(collect_list(struct(turn_id, span_txt))),"
    " x -> x.span_txt), ';')"
)
_SPAN_AGG_DUCK = "array_to_string(list(span_txt ORDER BY turn_id), ';')"

CHAT_LOSS_MASK_SPARK = (
    f"WITH {_TOKS_SPARK},\n{_TURNS_SPARK}"
    + _MASK_TAIL.format(span_agg=_SPAN_AGG_SPARK)
)
CHAT_LOSS_MASK_DUCK = (
    f"WITH {_TOKS_DUCK},\n{_TURNS_DUCK}"
    + _MASK_TAIL.format(span_agg=_SPAN_AGG_DUCK)
)

# --------------------------------------------------------- turn dedup
# Exact turn-level dedup across the whole conversation corpus: group
# by content digest, keep the first occurrence (doc_id, turn_id
# order), report every digest that occurs more than once. Only the
# 16-byte digest shuffles twice (group + window); turn text never
# leaves its map task — the dedup_lines/K5 posture at turn grain.

# keyed: every turn with its digest and global first-occurrence rank.
# Shared by the digest-grain dedup gate below and the per-doc dup
# counts the SFT data card composes (round 11) — one definition, no
# drift.
_KEYED_CTE = """keyed AS (
  SELECT doc_id, turn_id, role, md5(content) AS digest,
         row_number() OVER (PARTITION BY md5(content)
                            ORDER BY doc_id, turn_id) AS occ
  FROM turns
)"""

_DEDUP_TAIL = f"""
, {_KEYED_CTE}
SELECT digest,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(min(CASE WHEN occ = 1 THEN doc_id END) AS BIGINT)
           AS keeper_doc_id,
       CAST(min(CASE WHEN occ = 1 THEN turn_id END) AS BIGINT)
           AS keeper_turn_id
FROM keyed
GROUP BY digest
HAVING count(*) > 1
"""

CHAT_TURN_DEDUP_SPARK = f"WITH {_TOKS_SPARK},\n{_TURNS_SPARK}{_DEDUP_TAIL}"
CHAT_TURN_DEDUP_DUCK = f"WITH {_TOKS_DUCK},\n{_TURNS_DUCK}{_DEDUP_TAIL}"

# Per-DOC dup view of the same keyed chain: how many of a
# conversation's turns are non-first copies of a global digest
# (the SFT data card's dup_turn numerator).
_DUPDOC_TAIL = f"""
, {_KEYED_CTE}
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_turns
FROM keyed
GROUP BY doc_id
"""

CHAT_TURN_DUPDOC_SPARK = f"WITH {_TOKS_SPARK},\n{_TURNS_SPARK}{_DUPDOC_TAIL}"
CHAT_TURN_DUPDOC_DUCK = f"WITH {_TOKS_DUCK},\n{_TURNS_DUCK}{_DUPDOC_TAIL}"


# ------------------------------------------------ turn-level near-dup
# MinHash-LSH over DISTINCT turn contents (near-dup runs after exact
# dedup, so exact-duplicate turns collapse to one unit first — the
# production order, and what keeps band buckets from going quadratic
# on boilerplate replies). Unit id = 60-bit md5 prefix of the content
# (deterministic, identical in both engines). The signature/banding
# machinery is dedup.py's, verbatim; the hot-bucket cap (256) is
# applied in BOTH dialects so the gate covers the capped join shape.

_TURN_UID = "CAST({conv} AS BIGINT)"
_UID_SPARK = _TURN_UID.format(
    conv="conv(substr(md5(content), 1, 15), 16, 10)"
)
_UID_DUCK = _TURN_UID.format(
    conv="concat('0x', substr(md5(content), 1, 15))"
)

_TURN_DOCS_SPARK = (
    f"SELECT DISTINCT {_UID_SPARK} AS doc_id, content AS text FROM turns"
)


def _q_turn_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from . import dedup as dedup_ops

    # fanout (guide §2.5): the materialized turns parquet is one-two
    # partitions, which would serialize the downstream shingle+minhash
    # chain — spread it before the heavy stage
    units = catalog.fanout(
        run_with_mat_turns(
            spark, sf_dir,
            f"WITH {_TOKS_SPARK},\n{_TURNS_SPARK}\n{_TURN_DOCS_SPARK}",
        )
    )
    return dedup_ops.lsh_pairs_df(units).select(
        F.col("doc_a").alias("turn_a"), F.col("doc_b").alias("turn_b")
    )


def _turn_near_dup_duck() -> str:
    from . import dedup as dedup_ops

    shingles = dedup_ops.shingles_duck("turn_docs")
    return f"""WITH {_TOKS_DUCK},
{_TURNS_DUCK},
turn_docs AS (
  SELECT DISTINCT {_UID_DUCK} AS doc_id, content AS text FROM turns
),
{shingles},
{dedup_ops._SIGS_DUCK},
{dedup_ops._BANDS_DUCK},
capped AS (
  SELECT doc_id, band, bucket FROM (
    SELECT doc_id, band, bucket,
           count(*) OVER (PARTITION BY band, bucket) AS bsz
    FROM bands)
  WHERE bsz <= {dedup_ops.DEFAULT_MAX_BUCKET_SIZE}
)
SELECT DISTINCT a.doc_id AS turn_a, b.doc_id AS turn_b
FROM capped a JOIN capped b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


# ----------------------------------------------- SFT sequence packing
# Pack rendered conversations into fixed token-budget training
# sequences (concat-and-split, the standard packed-SFT layout) and
# report, per sequence, what the trainer needs to weight batches:
# docs started/ended inside it, tokens used, and how many of its
# tokens are LOSS tokens (assistant content) — the per-sequence mask
# density. Token accounting: every turn costs its content tokens + 3
# specials (<|im_start|>, role, <|im_end|>); the system turn costs
# SYS_TOKENS. Global doc offsets come from the W1 scalable exclusive
# prefix sum (textops.exclusive_prefix_sum — range repartition +
# per-partition cumsum + broadcast totals; no global data window on
# the Spark side). Docs straddle sequence boundaries by design
# (pretraining-style packing); n_docs_started/ended make the straddle
# visible. All arithmetic is integer.

SEQ_BUDGET = 256
TURN_SPECIALS = 3          # im_start + role + im_end
SYS_TOKENS = 8             # 5 content words + 3 specials

_DOC_LENS_TAIL = f"""
SELECT doc_id,
       CAST({SYS_TOKENS} + sum(n_t + {TURN_SPECIALS}) AS BIGINT) AS doc_len
FROM (SELECT doc_id, turn_id,
             length(content) - length(replace(content, ' ', '')) + 1 AS n_t
      FROM turns)
GROUP BY doc_id
"""

CHAT_DOC_LENS_SPARK = f"WITH {_TOKS_SPARK},\n{_TURNS_SPARK}{_DOC_LENS_TAIL}"

# Assistant-turn token spans in DOC-LOCAL coordinates: turn t starts
# at SYS_TOKENS + Σ_{{u<t}}(n_u + 3); its content starts 2 specials in.
_TURN_SPANS_TAIL = f"""
SELECT doc_id, turn_id,
       t_off + 2 AS t_start,
       t_off + 2 + n_t AS t_end
FROM (
  SELECT doc_id, turn_id, role, n_t,
         {SYS_TOKENS} + coalesce(sum(n_t + {TURN_SPECIALS}) OVER (
             PARTITION BY doc_id ORDER BY turn_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS t_off
  FROM (SELECT doc_id, turn_id, role,
               length(content) - length(replace(content, ' ', '')) + 1 AS n_t
        FROM turns)
)
WHERE role = 'assistant'
"""

CHAT_TURN_SPANS_SPARK = f"WITH {_TOKS_SPARK},\n{_TURNS_SPARK}{_TURN_SPANS_TAIL}"

# Sequence rollup over doc_offs(doc_id, doc_len, s) and
# turn_spans(doc_id, t_start, t_end): explode each doc/span over the
# sequences it overlaps (bounded fanout: ceil(len/B) + 1), group.
_PACK_TAIL = f"""
, docspan AS (
  SELECT doc_id, CAST(s AS BIGINT) AS s,
         CAST(s + doc_len AS BIGINT) AS e
  FROM doc_offs
),
occ AS (
  SELECT seq_id, doc_id, s, e
  FROM docspan
  {{seq_explode_doc}}
),
seqs AS (
  SELECT seq_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN s {{div}} {SEQ_BUDGET} = seq_id
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_started,
         CAST(sum(CASE WHEN (e - 1) {{div}} {SEQ_BUDGET} = seq_id
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_ended,
         CAST(sum(least(e, (seq_id + 1) * {SEQ_BUDGET})
                  - greatest(s, seq_id * {SEQ_BUDGET})) AS BIGINT)
             AS tokens_used,
         CAST(min(doc_id) AS BIGINT) AS first_doc,
         CAST(max(doc_id) AS BIGINT) AS last_doc
  FROM occ GROUP BY seq_id
),
gspans AS (
  SELECT d.doc_id, CAST(d.s + t.t_start AS BIGINT) AS a_s,
         CAST(d.s + t.t_end AS BIGINT) AS a_e
  FROM doc_offs d JOIN turn_spans t ON d.doc_id = t.doc_id
),
mocc AS (
  SELECT seq_id,
         CAST(sum(least(a_e, (seq_id + 1) * {SEQ_BUDGET})
                  - greatest(a_s, seq_id * {SEQ_BUDGET})) AS BIGINT)
             AS mask_tokens
  FROM gspans
  {{seq_explode_span}}
  GROUP BY seq_id
)
SELECT q.seq_id, q.n_docs, q.n_docs_started, q.n_docs_ended,
       q.tokens_used,
       CAST(coalesce(m.mask_tokens, 0) AS BIGINT) AS mask_tokens,
       q.first_doc, q.last_doc
FROM seqs q LEFT JOIN mocc m ON q.seq_id = m.seq_id
"""


def _pack_tail(engine: str) -> str:
    if engine == "spark":
        doc_x = (
            f"LATERAL VIEW explode(sequence(s DIV {SEQ_BUDGET},"
            f" (e - 1) DIV {SEQ_BUDGET})) t AS seq_id"
        )
        span_x = (
            f"LATERAL VIEW explode(sequence(a_s DIV {SEQ_BUDGET},"
            f" (a_e - 1) DIV {SEQ_BUDGET})) t AS seq_id"
        )
        div = "DIV"
    else:
        doc_x = (
            ", LATERAL (SELECT unnest(generate_series("
            f"s // {SEQ_BUDGET}, (e - 1) // {SEQ_BUDGET})) AS seq_id)"
        )
        span_x = (
            ", LATERAL (SELECT unnest(generate_series("
            f"a_s // {SEQ_BUDGET}, (a_e - 1) // {SEQ_BUDGET})) AS seq_id)"
        )
        div = "//"
    return _PACK_TAIL.format(
        seq_explode_doc=doc_x, seq_explode_span=span_x, div=div
    )


def _q_chat_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import exclusive_prefix_sum

    lens = run_with_mat_turns(spark, sf_dir, CHAT_DOC_LENS_SPARK)
    exclusive_prefix_sum(lens, ["doc_id"], "doc_len", "s").createOrReplaceTempView(
        "doc_offs"
    )
    run_with_mat_turns(
        spark, sf_dir, CHAT_TURN_SPANS_SPARK
    ).createOrReplaceTempView("turn_spans")
    return spark.sql("WITH _x AS (SELECT 1)" + _pack_tail("spark"))


def _pack_duck() -> str:
    return f"""WITH {_TOKS_DUCK},
{_TURNS_DUCK},
doc_lens AS ({_DOC_LENS_TAIL}),
doc_offs AS (
  SELECT doc_id, doc_len,
         CAST(coalesce(sum(doc_len) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS s
  FROM doc_lens
),
turn_spans AS ({_TURN_SPANS_TAIL}){_pack_tail('duck')}"""




# ------------------------------------------ tool-call trace rendering
# Agentic SFT traces (function calling): a tool-using conversation
# interleaves an assistant TOOL-CALL turn and a tool RESULT turn after
# the opening user turn. Loss semantics differ from plain chat: the
# assistant's tool-call text IS trained (the model must learn to emit
# calls), the tool's result is context only (masked) — the
# train/masked token split below is the number an agent-SFT trainer
# budgets with. Fixture: docs with doc_id % 3 == 0 carry one seeded
# call/result pair (args are md5-derived integers); ordering key
# ord = 10*turn_id with the pair at 5/6 splices them after turn 0
# deterministically in both engines.

TOOL_MOD = 3

_TOOL_TAIL = f"""
, tooldocs AS (
  SELECT doc_id, {{h}} AS th
  FROM (SELECT DISTINCT doc_id FROM turns)
  WHERE doc_id % {TOOL_MOD} = 0
),
aug AS (
  SELECT doc_id, turn_id * 10 AS ord, role, content FROM turns
  UNION ALL
  SELECT doc_id, 5 AS ord, 'assistant' AS role,
         'call search limit ' || CAST(th % 10 AS STRING) AS content
  FROM tooldocs
  UNION ALL
  SELECT doc_id, 6 AS ord, 'tool' AS role,
         'result rows ' || CAST(th % 7 AS STRING) AS content
  FROM tooldocs
),
astats AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS INT)
             AS n_tool_turns,
         CAST(sum(CASE WHEN role = 'assistant' THEN
             length(content) - length(replace(content, ' ', '')) + 1
             ELSE 0 END) AS BIGINT) AS train_tokens,
         CAST(sum(CASE WHEN role <> 'assistant' THEN
             length(content) - length(replace(content, ' ', '')) + 1
             ELSE 0 END) AS BIGINT) AS masked_tokens
  FROM aug GROUP BY doc_id
)
SELECT p.doc_id,
       CAST(CASE WHEN p.doc_id % {TOOL_MOD} = 0 THEN 1 ELSE 0 END AS INT)
           AS has_tool,
       a.n_tool_turns, a.train_tokens, a.masked_tokens,
       md5({{sys}} || {{piece_agg}}) AS render_md5
FROM (SELECT doc_id, ord AS turn_id, role, {_PIECE} AS piece FROM aug) p
JOIN astats a ON p.doc_id = a.doc_id
GROUP BY p.doc_id, a.n_tool_turns, a.train_tokens, a.masked_tokens
"""

TOOL_TRACE_SPARK = (
    f"WITH {_TOKS_SPARK},\n{_TURNS_SPARK}"
    + _TOOL_TAIL.format(h=_H_SPARK.replace(":tl", ":tool"),
                        sys=_SYS_SQL, piece_agg=_PIECE_AGG_SPARK)
)
TOOL_TRACE_DUCK = (
    f"WITH {_TOKS_DUCK},\n{_TURNS_DUCK}"
    + _TOOL_TAIL.format(h=_H_DUCK.replace(":tl", ":tool"),
                        sys=_SYS_SQL, piece_agg=_PIECE_AGG_DUCK)
)


# --------------------------------------- context-window truncation
# Conversation trimming for a bounded context: keep the system turn,
# the FIRST user turn (the instruction), and the LAST TRUNC_KEEP
# turns — the standard recency policy chat runtimes and SFT
# preprocessors apply when a conversation outgrows the window. The
# gate re-renders the KEPT turns through the same template, so the
# policy (which turns survive, in what order) is pinned end to end.

TRUNC_KEEP = 4

_TRUNC_TAIL = f"""
, maxt AS (
  SELECT doc_id, max(turn_id) AS mt, count(*) AS nt
  FROM turns GROUP BY doc_id
),
kept AS (
  SELECT t.doc_id, t.turn_id, t.role, t.content
  FROM turns t JOIN maxt m ON t.doc_id = m.doc_id
  WHERE t.turn_id = 0 OR t.turn_id > m.mt - {TRUNC_KEEP}
)
SELECT k.doc_id,
       CAST(count(*) AS INT) AS n_turns_kept,
       CAST(max(m.nt) - count(*) AS INT) AS n_turns_dropped,
       CAST(length({{sys}} || {{piece_agg}}) AS INT) AS trunc_render_len,
       md5({{sys}} || {{piece_agg}}) AS trunc_render_md5
FROM (SELECT doc_id, turn_id, role, {_PIECE} AS piece FROM kept) k
JOIN maxt m ON k.doc_id = m.doc_id
GROUP BY k.doc_id
"""

CHAT_TRUNCATE_SPARK = (
    f"WITH {_TOKS_SPARK},\n{_TURNS_SPARK}"
    + _TRUNC_TAIL.format(sys=_SYS_SQL, piece_agg=_PIECE_AGG_SPARK)
)
CHAT_TRUNCATE_DUCK = (
    f"WITH {_TOKS_DUCK},\n{_TURNS_DUCK}"
    + _TRUNC_TAIL.format(sys=_SYS_SQL, piece_agg=_PIECE_AGG_DUCK)
)


# --------------------------------------- JSONL conversations source
# The wire format SFT data actually arrives in: one JSON object per
# conversation with a role/content turn ARRAY. The gate drives the
# array<struct> I/O path end to end: conversations are assembled from
# the gated turn chain, written as JSONL, read back with an EXPLICIT
# schema (inference = a second full scan, banned at 100 TB; the
# tabular.py roundtrip convention), re-exploded, and re-rendered —
# the oracle is the SAME CHAT_RENDER_DUCK, so any serialization drift
# (key order, escaping, array element order, struct field loss)
# breaks the render hash.

CHAT_CONV_SCHEMA = (
    "doc_id BIGINT, turns ARRAY<STRUCT<role: STRING, content: STRING>>"
)

_CONV_AGG_SPARK = (
    "transform(array_sort(collect_list(struct(turn_id, role, content))),"
    " x -> struct(x.role AS role, x.content AS content))"
)


def conversations_df(spark: SparkSession) -> DataFrame:
    """``(doc_id, turns array<struct<role, content>>)`` over the
    registered ``documents`` view — the JSONL-ingest row shape
    (CHAT_CONV_SCHEMA). Public seam for pipelines that publish or
    ingest conversation shards (examples/sft_pipeline.py)."""
    return spark.sql(
        f"WITH {_TOKS_SPARK},\n{_TURNS_SPARK}\n"
        f"SELECT doc_id, {_CONV_AGG_SPARK} AS turns FROM turns"
        " GROUP BY doc_id"
    )


def _q_chat_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..matcache import scratch_dir

    # fanout (guide §2.5): JSON render + parse are per-row CPU over
    # the one-row-group scan; 2.70 -> 2.29 s at sf0.1
    catalog.fanout(
        catalog.load_table(spark, sf_dir, "documents")
    ).createOrReplaceTempView("documents")
    conv = conversations_df(spark)
    path = scratch_dir("dbp_chat_jsonl_") + "/conversations"
    conv.write.mode("errorifexists").json(path)
    from ..sources.jsonl import read_jsonl

    back = read_jsonl(spark, path, CHAT_CONV_SCHEMA)
    back.createOrReplaceTempView("chat_conversations_rt")
    return spark.sql(
        """WITH turns AS (
  SELECT doc_id, pos AS turn_id, t.role AS role, t.content AS content
  FROM chat_conversations_rt
  LATERAL VIEW posexplode(turns) x AS pos, t
)"""
        + _RENDER_TAIL.format(sys=_SYS_SQL, piece_agg=_PIECE_AGG_SPARK)
    )


# -------------------------------------------- prefix-sharing report
# KV-cache / prefix-caching planning (round 11; public anchors: vLLM
# automatic prefix caching, SGLang RadixAttention): conversations that
# share a rendered PREFIX (system turn + first d turns) can reuse one
# KV-cache entry per group at serving/training time. Per depth d this
# reports how much sharing the corpus actually carries: group
# conversations by the md5 of their depth-d rendered prefix and count
# the chars a shared cache would not re-prefill —
# ``saved_chars = sum_groups (group_size - 1) * prefix_len``.
# Conversations shorter than d turns sit out of that depth (HAVING
# count(*) = d), so every group member shares the FULL prefix.
# Depth 0 (system turn only) is omitted — it is constant by
# construction, sharing = n_convs - 1 trivially.
#
# Scale: pieces x depths is a bounded <=|PREFIX_DEPTHS| fan-out of
# turn rows; grouping keys are 16-byte digests; the rollup is
# depth-sized. All integers — exact gate.

PREFIX_DEPTHS = (1, 2, 3)

_PREF_AGG_SPARK = (
    "md5(array_join(transform(array_sort(collect_list(struct(turn_id,"
    " piece))), x -> x.piece), ''))"
)
_PREF_AGG_DUCK = "md5(array_to_string(list(piece ORDER BY turn_id), ''))"

_PREF_CTES = f"""
, pieces AS (
  SELECT doc_id, turn_id, {_PIECE} AS piece FROM turns
),
depths AS ({{depths}}),
pref AS (
  SELECT p.doc_id, d.depth,
         {{pref_agg}} AS digest,
         CAST({SYS_LEN} + sum(length(piece)) AS BIGINT) AS prefix_len
  FROM pieces p JOIN depths d ON p.turn_id < d.depth
  GROUP BY p.doc_id, d.depth
  HAVING count(*) = d.depth
)"""

_PREFIX_TAIL = _PREF_CTES + """,
grp AS (
  SELECT depth, digest, prefix_len, CAST(count(*) AS BIGINT) AS cnt
  FROM pref GROUP BY depth, digest, prefix_len
)
SELECT CAST(depth AS INT) AS depth,
       CAST(sum(cnt) AS BIGINT) AS n_convs,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
           AS n_shared_convs,
       CAST(sum((cnt - 1) * prefix_len) AS BIGINT) AS saved_chars
FROM grp
GROUP BY depth
"""

_DEPTH_LIST = ", ".join(str(d) for d in PREFIX_DEPTHS)

CHAT_PREFIX_SHARE_SPARK = (
    f"WITH {_TOKS_SPARK},\n{_TURNS_SPARK}"
    + _PREFIX_TAIL.format(
        depths=f"SELECT explode(array({_DEPTH_LIST})) AS depth",
        pref_agg=_PREF_AGG_SPARK,
    )
)
CHAT_PREFIX_SHARE_DUCK = (
    f"WITH {_TOKS_DUCK},\n{_TURNS_DUCK}"
    + _PREFIX_TAIL.format(
        depths=f"SELECT unnest([{_DEPTH_LIST}]) AS depth",
        pref_agg=_PREF_AGG_DUCK,
    )
)


# --------------------------------------- prefix-grouped serving order
# Round 12 (VERDICT r11 next #3): the prefix-share report quantifies
# KV reuse but nothing produced the ORDER that realizes it. This
# operator emits the batch order a prefix-caching server/trainer
# should consume: every conversation is assigned to its DEEPEST
# shared-prefix group (max depth d in PREFIX_DEPTHS where >= 2 convs
# share the full depth-d rendered prefix; convs sharing nothing fall
# into one depth-0 group — they still reuse the constant system
# turn), and the total order makes group members ADJACENT, so each
# member after a group's first re-prefills nothing of the group
# prefix. ``reuse_chars`` is that per-request saving; its sum is the
# realized-reuse number tests tie back to the report (every depth-3
# report group survives intact at the max depth, so the realized
# total is >= the report's depth-3 saved_chars).
#
# Scale: grouping keys are 16-byte digests; the deepest-group choice
# is one digest-keyed join + per-doc max; the ONLY global sort is the
# serve_pos numbering, which rides the W1 prefix-sum machinery on the
# Spark side (the oracle keeps the one-level row_number spelling).
# Within-group rank windows are bounded by group size (a pathological
# all-identical corpus degenerates to one group — the same hot-key
# caveat as the dedup hot-bucket cap, acceptable for an ORDERING).

_SERVE_TAIL = (
    _PREF_CTES
    + f""",
shared AS (
  SELECT depth, digest FROM pref GROUP BY depth, digest
  HAVING count(*) > 1
),
deep AS (
  SELECT p.doc_id, max(p.depth) AS grp_depth
  FROM pref p JOIN shared s ON p.depth = s.depth AND p.digest = s.digest
  GROUP BY p.doc_id
),
asg AS (
  SELECT t.doc_id,
         CAST(coalesce(d.grp_depth, 0) AS INT) AS grp_depth,
         CASE WHEN d.doc_id IS NULL THEN 'sys' ELSE p.digest END AS digest,
         CAST(CASE WHEN d.doc_id IS NULL THEN {SYS_LEN}
                   ELSE p.prefix_len END AS BIGINT) AS prefix_len
  FROM (SELECT DISTINCT doc_id FROM turns) t
  LEFT JOIN deep d ON t.doc_id = d.doc_id
  LEFT JOIN pref p ON d.doc_id = p.doc_id AND d.grp_depth = p.depth
),
conv_len AS (
  SELECT doc_id,
         CAST({SYS_LEN} + sum(length(piece)) AS BIGINT) AS render_len
  FROM pieces GROUP BY doc_id
),
ranked_asg AS (
  SELECT a.doc_id, a.grp_depth, a.digest, l.render_len,
         CAST(CASE WHEN row_number() OVER (
                PARTITION BY a.grp_depth, a.digest
                ORDER BY l.render_len, a.doc_id) > 1
              THEN a.prefix_len ELSE 0 END AS BIGINT) AS reuse_chars
  FROM asg a JOIN conv_len l ON a.doc_id = l.doc_id
)"""
)


def _serve_tail(engine: str) -> str:
    if engine == "spark":
        return _SERVE_TAIL.format(
            depths=f"SELECT explode(array({_DEPTH_LIST})) AS depth",
            pref_agg=_PREF_AGG_SPARK,
        )
    return _SERVE_TAIL.format(
        depths=f"SELECT unnest([{_DEPTH_LIST}]) AS depth",
        pref_agg=_PREF_AGG_DUCK,
    )


CHAT_SERVING_ORDER_DUCK = f"""WITH {_TOKS_DUCK},
{_TURNS_DUCK}{_serve_tail('duck')}
SELECT CAST(row_number() OVER (
         ORDER BY grp_depth DESC, digest, render_len, doc_id)
         AS BIGINT) AS serve_pos,
       doc_id, grp_depth, render_len, reuse_chars
FROM ranked_asg
"""


def _q_serving_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    catalog.load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return serving_order(spark, sf_dir)


def serving_order(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Serving order over the CURRENT ``documents`` view (the view
    seam the scale study fans out). With ``sf_dir`` the turns chain
    comes from the session-materialized table (round 15)."""
    from pyspark.sql import functions as F

    from .textops import exclusive_prefix_sum

    sql = (
        f"WITH {_TOKS_SPARK},\n{_TURNS_SPARK}{_serve_tail('spark')}\n"
        "SELECT doc_id, grp_depth, digest, render_len, reuse_chars"
        " FROM ranked_asg"
    )
    asg = (
        run_with_mat_turns(spark, sf_dir, sql)
        if sf_dir is not None
        else spark.sql(sql)
    )
    # global serve_pos without a global window: exclusive prefix sum
    # of ones over the (depth DESC, digest, length, doc_id) total
    # order — length-sorted within groups so a serving batch pads
    # minimally (VERDICT r11 next #3's "shared-prefix group, then
    # length" spelling)
    numbered = exclusive_prefix_sum(
        asg.withColumn("_ng", -F.col("grp_depth")).withColumn(
            "_one", F.lit(1)
        ),
        ["_ng", "digest", "render_len", "doc_id"],
        "_one",
        "_g",
    )
    return numbered.select(
        (F.col("_g") + 1).cast("bigint").alias("serve_pos"),
        "doc_id",
        "grp_depth",
        "render_len",
        "reuse_chars",
    )


# ------------------------------------------- token-window chunking
# Overlapping token windows (W tokens, stride S) — the chunking step
# every retrieval/embedding pipeline runs before encoding (RAG
# ingestion; also the long-doc split for context-bounded training).
# Membership is computed TOKEN-side: each token explodes over the
# ≤ ceil(W/S) windows that contain it (bounded fan-out — never a
# range join), then one (doc, window) groupBy assembles the chunk.
# k_min = max(0, ceil((pos-W+1)/S)) via trunc-div on a clamped-
# nonnegative numerator — identical in both engines.

CHUNK_W = 32
CHUNK_S = 24

_CHUNK_TAIL = f"""
, member AS (
  SELECT doc_id, pos, token, k
  FROM toks
  {{kgen}}
)
SELECT doc_id, CAST(k AS INT) AS chunk_id,
       CAST(count(*) AS INT) AS n_tokens,
       md5({{tok_agg}}) AS chunk_md5
FROM member
GROUP BY doc_id, k
"""

_KGEN_SPARK = (
    f"LATERAL VIEW explode(sequence("
    f"greatest(0, (pos - {CHUNK_W} + {CHUNK_S}) DIV {CHUNK_S}),"
    f" pos DIV {CHUNK_S})) t AS k"
)
_KGEN_DUCK = (
    f", LATERAL (SELECT unnest(generate_series("
    f"greatest(0, (pos - {CHUNK_W} + {CHUNK_S}) // {CHUNK_S}),"
    f" pos // {CHUNK_S})) AS k)"
)

CHUNK_WINDOWS_SPARK = (
    f"WITH {_TOKS_SPARK}"
    + _CHUNK_TAIL.format(kgen=_KGEN_SPARK, tok_agg=_CONTENT_AGG_SPARK)
)
CHUNK_WINDOWS_DUCK = (
    f"WITH {_TOKS_DUCK}"
    + _CHUNK_TAIL.format(kgen=_KGEN_DUCK, tok_agg=_CONTENT_AGG_DUCK)
)


# ------------------------------------- multimodal-SFT token planning
# Interleaved image+text conversations (the LLaVA/GPT-4V SFT shape):
# a doc whose id carries an image contributes VISION tokens -- the
# image expands to its ViT patch-grid count (PATCH_P from
# multimodal/qpatch.py, the same patch geometry mm_vit_patchify
# gates) plus 2 boundary specials -- spliced into the first user
# turn. The planner emits per conversation what a multimodal trainer
# budgets with: text vs vision token counts and the loss-token count
# (assistant TEXT only -- vision tokens are never loss positions).
# Image fixture: doc_id % 3 == 0 carries a (32*(d%2+1)) x (16*(d%4+1))
# image -- patch counts vary 8..64 across docs (64 = 8*8 at the
# w=64,h=64 corner of the dims grid with PATCH_P=8).

IMG_MOD = 3            # docs with doc_id % 3 == 0 carry an image
IMG_SPECIALS = 2       # <image> ... </image> boundary tokens
from ..multimodal.qpatch import PATCH_P as _PATCH_P  # noqa: E402 — the
# chat and patchify families SHARE the patch geometry (round-10 review
# #4: a literal copy would drift silently if PATCH_P were retuned)

# Split CTES/SELECT (round 11): the mm sequence packer reuses the
# plan's CTE chain with the final select wrapped as one more CTE.
_MM_PLAN_CTES = f"""
, tstats AS (
  SELECT doc_id,
         CAST({SYS_TOKENS} + sum(n_t + {TURN_SPECIALS}) AS BIGINT)
             AS text_tokens,
         CAST(sum(CASE WHEN role = 'assistant' THEN n_t ELSE 0 END)
             AS BIGINT) AS mask_tokens
  FROM (SELECT doc_id, turn_id, role,
               length(content) - length(replace(content, ' ', '')) + 1
                   AS n_t
        FROM turns)
  GROUP BY doc_id
),
imgs AS (
  SELECT doc_id,
         CASE WHEN doc_id % {IMG_MOD} = 0 THEN 1 ELSE 0 END AS has_image,
         CASE WHEN doc_id % {IMG_MOD} = 0
              THEN (32 * (doc_id % 2 + 1) {{div}} {_PATCH_P})
                   * (16 * (doc_id % 4 + 1) {{div}} {_PATCH_P})
              ELSE 0 END AS n_patches
  FROM documents
)"""

_MM_PLAN_SELECT = f"""
SELECT t.doc_id,
       CAST(i.has_image AS INT) AS has_image,
       CAST(i.n_patches AS BIGINT) AS n_patches,
       t.text_tokens,
       CAST(CASE WHEN i.has_image = 1
                 THEN i.n_patches + {IMG_SPECIALS} ELSE 0 END AS BIGINT)
           AS vision_tokens,
       CAST(t.text_tokens
            + CASE WHEN i.has_image = 1
                   THEN i.n_patches + {IMG_SPECIALS} ELSE 0 END AS BIGINT)
           AS total_tokens,
       t.mask_tokens
FROM tstats t JOIN imgs i ON t.doc_id = i.doc_id
"""

MM_CHAT_PLAN_SPARK = (
    f"WITH {_TOKS_SPARK},\n{_TURNS_SPARK}"
    + _MM_PLAN_CTES.format(div="DIV") + _MM_PLAN_SELECT
)
MM_CHAT_PLAN_DUCK = (
    f"WITH {_TOKS_DUCK},\n{_TURNS_DUCK}"
    + _MM_PLAN_CTES.format(div="//") + _MM_PLAN_SELECT
)


# --------------------------------- multimodal sequence packing
# The packer above (docs_chat_pack_sequences) budgets TEXT tokens; a
# multimodal trainer packs on text+vision totals and additionally
# tracks per sequence how many vision tokens land in it and how many
# images START in it (an image's patch block must not be split across
# data-parallel ranks without its header — the count a packer
# monitors). Token layout pinned per doc: [sys][turn-0 specials]
# [vision block][rest of the text stream] — the vision block sits at
# offset SYS_TOKENS + TURN_SPECIALS, the start of the first user
# turn's content, the same splice the MM plan describes. Same
# exclusive-prefix-sum machinery as the text packer (no global
# windows, plan-pinned).

_MM_PACK_TAIL = f"""
, docspan AS (
  SELECT o.doc_id, CAST(o.s AS BIGINT) AS s,
         CAST(o.s + o.doc_len AS BIGINT) AS e,
         CAST(o.s + {SYS_TOKENS} + {TURN_SPECIALS} AS BIGINT) AS v_s,
         CAST(o.s + {SYS_TOKENS} + {TURN_SPECIALS} + p.vision_tokens
              AS BIGINT) AS v_e
  FROM doc_offs o JOIN mmplan p ON o.doc_id = p.doc_id
),
occ AS (
  SELECT seq_id, doc_id, s, e, v_s, v_e
  FROM docspan
  {{seq_explode_doc}}
),
seqs AS (
  SELECT seq_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(least(e, (seq_id + 1) * {SEQ_BUDGET})
                  - greatest(s, seq_id * {SEQ_BUDGET})) AS BIGINT)
             AS tokens_used,
         CAST(sum(greatest(least(v_e, (seq_id + 1) * {SEQ_BUDGET})
                  - greatest(v_s, seq_id * {SEQ_BUDGET}), 0)) AS BIGINT)
             AS vision_tokens,
         CAST(sum(CASE WHEN v_e > v_s
                       AND v_s {{div}} {SEQ_BUDGET} = seq_id
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_imgs_started
  FROM occ GROUP BY seq_id
)
SELECT CAST(seq_id AS BIGINT) AS seq_id, n_docs, tokens_used,
       vision_tokens, n_imgs_started
FROM seqs
"""


def _mm_pack_tail(engine: str) -> str:
    if engine == "spark":
        doc_x = (
            f"LATERAL VIEW explode(sequence(s DIV {SEQ_BUDGET},"
            f" (e - 1) DIV {SEQ_BUDGET})) t AS seq_id"
        )
        div = "DIV"
    else:
        doc_x = (
            f", LATERAL (SELECT unnest(generate_series("
            f"s // {SEQ_BUDGET}, (e - 1) // {SEQ_BUDGET})) AS seq_id)"
        )
        div = "//"
    return _MM_PACK_TAIL.format(seq_explode_doc=doc_x, div=div)


def _q_mm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import exclusive_prefix_sum

    plan = run_with_mat_turns(spark, sf_dir, MM_CHAT_PLAN_SPARK)
    plan.createOrReplaceTempView("mmplan")
    lens = plan.select(
        "doc_id", plan["total_tokens"].alias("doc_len")
    )
    exclusive_prefix_sum(
        lens, ["doc_id"], "doc_len", "s"
    ).createOrReplaceTempView("doc_offs")
    return spark.sql("WITH _x AS (SELECT 1)" + _mm_pack_tail("spark"))


def _mm_pack_duck() -> str:
    return (
        f"WITH {_TOKS_DUCK},\n{_TURNS_DUCK}"
        + _MM_PLAN_CTES.format(div="//")
        + f",\nmmplan AS ({_MM_PLAN_SELECT}),"
        + f"""
doc_lens AS (SELECT doc_id, total_tokens AS doc_len FROM mmplan),
doc_offs AS (
  SELECT doc_id, doc_len,
         CAST(coalesce(sum(doc_len) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS s
  FROM doc_lens
)"""
        + _mm_pack_tail("duck")
    )


# ---------------------------------------- packing fill-rate report
# Round 11: the utilization number a packed dataset is judged by —
# fill-rate histogram of the gated sequence packer's output (decile =
# tokens_used*10 DIV SEQ_BUDGET; decile 10 = exactly full). Interior
# sequences of a contiguous packer are full by construction; the
# histogram quantifies the tail waste that decides whether a smarter
# packer (FFD) would pay for itself. Pure re-aggregation of the SAME
# gated pack chain.

_FILL_TAIL = f"""
SELECT CAST(tokens_used * 10 {{div}} {SEQ_BUDGET} AS INT) AS fill_decile,
       CAST(count(*) AS BIGINT) AS n_seqs,
       CAST(min(tokens_used) AS BIGINT) AS min_tokens,
       CAST(max(tokens_used) AS BIGINT) AS max_tokens,
       CAST(sum(tokens_used) AS BIGINT) AS tokens
FROM packed_seqs
GROUP BY 1
"""


def _q_pack_fill_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    _q_chat_pack_sequences(spark, sf_dir).createOrReplaceTempView(
        "packed_seqs"
    )
    return spark.sql("WITH _x AS (SELECT 1)" + _FILL_TAIL.format(div="DIV"))


PACK_FILL_DUCK = (
    f"WITH packed_seqs AS ({_pack_duck()})" + _FILL_TAIL.format(div="//")
)


# ------------------------------------ instruction-tag diversity
# InsTag-style instruction-diversity report (Lu et al. 2023 "InsTag":
# SFT quality tracks instruction DIVERSITY, not just volume): tag
# every user turn by its leading token (the instruction-verb
# surrogate — a production pipeline swaps in a tagger model, the
# rollup is identical) and report per source the tag spread and a
# CONCENTRATION index. Simpson/Herfindahl concentration
# (Σ (cnt_i/total)^2, in ppm) instead of entropy — the no-ln
# determinism rule; Simpson carries the same "one tag dominates"
# signal. Exact integers: Σ cnt² * 10^6 DIV total² (int64-safe to
# ~3e6 turns/source; past that, the bpe._ppm_split trick).

_DIVERSITY_TAIL = """
, utags AS (
  SELECT d.source, {first_tok} AS tag
  FROM turns t JOIN documents d ON t.doc_id = d.doc_id
  WHERE t.role = 'user'
),
tcnts AS (
  SELECT source, tag, CAST(count(*) AS BIGINT) AS cnt
  FROM utags GROUP BY source, tag
),
ttot AS (
  SELECT source,
         CAST(sum(cnt) AS BIGINT) AS n_turns,
         CAST(count(*) AS BIGINT) AS n_tags,
         CAST(sum(cnt * cnt) AS BIGINT) AS ss
  FROM tcnts GROUP BY source
),
ttop AS (
  SELECT source, tag, cnt,
         row_number() OVER (PARTITION BY source
                            ORDER BY cnt DESC, tag) AS rn
  FROM tcnts
)
SELECT t.source,
       t.n_turns AS n_user_turns,
       t.n_tags AS n_distinct_tags,
       p.tag AS top_tag,
       CAST(p.cnt * 1000000 {div} greatest(t.n_turns, 1) AS BIGINT)
           AS top_tag_ppm,
       CAST(t.ss * 1000000 {div} greatest(t.n_turns * t.n_turns, 1)
            AS BIGINT) AS simpson_ppm
FROM ttot t JOIN ttop p ON t.source = p.source AND p.rn = 1
"""

INSTR_DIVERSITY_SPARK = (
    f"WITH {_TOKS_SPARK},\n{_TURNS_SPARK}"
    + _DIVERSITY_TAIL.format(
        first_tok="element_at(split(t.content, ' '), 1)", div="DIV"
    )
)
INSTR_DIVERSITY_DUCK = (
    f"WITH {_TOKS_DUCK},\n{_TURNS_DUCK}"
    + _DIVERSITY_TAIL.format(
        first_tok="string_split(t.content, ' ')[1]", div="//"
    )
)


# ------------------------------------------------- independent renderer
# Plain-Python replay for tests: NO SQL, no Spark — the cross-check
# that the SQL render/mask really implement the template they claim.

def turn_len_py(doc_id: int) -> int:
    h = int(hashlib.md5(f"{doc_id}:tl".encode()).hexdigest()[:7], 16)
    return TURN_MIN + h % TURN_MOD


def conversation_py(doc_id: int, text: str) -> list[tuple[str, str]]:
    toks = [t for t in text.split(" ") if t]
    tl = turn_len_py(doc_id)
    out: list[tuple[str, str]] = []
    for i in range(0, len(toks), tl):
        role = "user" if (i // tl) % 2 == 0 else "assistant"
        out.append((role, " ".join(toks[i : i + tl])))
    return out


def render_py(doc_id: int, text: str) -> str:
    parts = [SYS_RENDERED]
    for role, content in conversation_py(doc_id, text):
        parts.append(f"{IM_START}{role}\n{content}{IM_END}\n")
    return "".join(parts)


def loss_spans_py(doc_id: int, text: str) -> list[tuple[int, int]]:
    """0-based [start, end) char spans of assistant content."""
    off = SYS_LEN
    spans = []
    for role, content in conversation_py(doc_id, text):
        start = off + HDR_LEN + len(role) + 1
        if role == "assistant":
            spans.append((start, start + len(content)))
        off += HDR_LEN + len(role) + 1 + len(content) + FTR_LEN
    return spans


# ------------------------------------------------------------ queries



# -------------------------------------- template-migration diff
# Round 12, the chat-template sibling of the tokenizer staleness
# monitor (bpe.py): when the serving/training template changes
# (ChatML -> a Llama-3-style header format here), every cached render
# is stale and the token budget shifts. The audit renders each
# conversation under BOTH templates over the SAME gated turns chain
# and emits the per-doc length delta + changed flag — the table a
# render-cache invalidation (and a context-budget re-plan) is driven
# from. Template v2 is a fixed public shape:
#
#     <|start_header_id|>role<|end_header_id|>\n\ncontent<|eot_id|>
#
# Per-doc grain keeps every value small-integer (no overflow ledger
# needed); one turns pass feeds both renders.

_PIECE_V2 = ("'<|start_header_id|>' || role || '<|end_header_id|>'"
             " || chr(10) || chr(10) || content || '<|eot_id|>'")
_SYS_V2 = ("'<|start_header_id|>system<|end_header_id|>' || chr(10)"
           f" || chr(10) || '{SYSTEM_PROMPT}' || '<|eot_id|>'")

_TMPL_DIFF_TAIL = f"""
SELECT doc_id,
       CAST(length({{sys1}} || {{agg1}}) AS INT) AS len_v1,
       CAST(length({{sys2}} || {{agg2}}) AS INT) AS len_v2,
       CAST(length({{sys2}} || {{agg2}})
            - length({{sys1}} || {{agg1}}) AS INT) AS len_delta,
       md5({{sys1}} || {{agg1}}) <> md5({{sys2}} || {{agg2}}) AS changed
FROM (
  SELECT doc_id, turn_id,
         {_PIECE} AS piece,
         {_PIECE_V2} AS piece2
  FROM turns
)
GROUP BY doc_id
"""


def _tmpl_diff_sql(engine: str) -> str:
    if engine == "spark":
        toks, turns = _TOKS_SPARK, _TURNS_SPARK
        agg = ("array_join(transform(array_sort("
               "collect_list(struct(turn_id, {p}))), x -> x.{p}), '')")
    else:
        toks, turns = _TOKS_DUCK, _TURNS_DUCK
        agg = "array_to_string(list({p} ORDER BY turn_id), '')"
    return (
        f"WITH {toks},\n{turns}"
        + _TMPL_DIFF_TAIL.format(
            sys1=_SYS_SQL, sys2=_SYS_V2,
            agg1=agg.format(p="piece"), agg2=agg.format(p="piece2"),
        )
    )


TMPL_DIFF_SPARK = _tmpl_diff_sql("spark")
TMPL_DIFF_DUCK = _tmpl_diff_sql("duck")


def _q_template_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_with_mat_turns(spark, sf_dir, TMPL_DIFF_SPARK)


QUERIES = {
    "docs_template_migration_diff": _q_template_diff,
    "docs_chat_render": _run_mat(CHAT_RENDER_SPARK),
    "docs_chat_loss_mask": _run_mat(CHAT_LOSS_MASK_SPARK),
    "docs_turn_dedup": _run_mat(CHAT_TURN_DEDUP_SPARK),
    "docs_turn_near_dup": _q_turn_near_dup,
    "docs_chat_pack_sequences": _q_chat_pack_sequences,
    "docs_mm_chat_token_plan": _run_mat(MM_CHAT_PLAN_SPARK),
    "docs_chunk_windows": _run(CHUNK_WINDOWS_SPARK, ("documents",)),
    "chat_jsonl_roundtrip": _q_chat_jsonl_roundtrip,
    "docs_chat_truncate": _run_mat(CHAT_TRUNCATE_SPARK),
    "docs_tool_trace_render": _run_mat(TOOL_TRACE_SPARK),
    "docs_chat_prefix_share": _run_mat(CHAT_PREFIX_SHARE_SPARK),
    "docs_chat_serving_order": _q_serving_order,
    "docs_mm_pack_sequences": _q_mm_pack_sequences,
    "docs_instruction_diversity": _run_mat(INSTR_DIVERSITY_SPARK),
    "docs_pack_fill_report": _q_pack_fill_report,
}

ORACLES = {
    "docs_template_migration_diff": TMPL_DIFF_DUCK,
    "docs_chat_render": CHAT_RENDER_DUCK,
    "docs_chat_loss_mask": CHAT_LOSS_MASK_DUCK,
    "docs_turn_dedup": CHAT_TURN_DEDUP_DUCK,
    "docs_turn_near_dup": _turn_near_dup_duck(),
    "docs_chat_pack_sequences": _pack_duck(),
    "docs_mm_chat_token_plan": MM_CHAT_PLAN_DUCK,
    "docs_chunk_windows": CHUNK_WINDOWS_DUCK,
    "chat_jsonl_roundtrip": CHAT_RENDER_DUCK,
    "docs_chat_truncate": CHAT_TRUNCATE_DUCK,
    "docs_tool_trace_render": TOOL_TRACE_DUCK,
    "docs_chat_prefix_share": CHAT_PREFIX_SHARE_DUCK,
    "docs_chat_serving_order": CHAT_SERVING_ORDER_DUCK,
    "docs_mm_pack_sequences": _mm_pack_duck(),
    "docs_instruction_diversity": INSTR_DIVERSITY_DUCK,
    "docs_pack_fill_report": PACK_FILL_DUCK,
}
