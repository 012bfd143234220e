"""Benchmark decontamination + inverted-index n-gram Jaccard.

Two training-data curation operators the reference's text tooling
implies but never needed at its scale (reference merges/dedups whole
lines — modules/text_processing.py; at pre-training scale the same
corpus hygiene step is *eval-set decontamination* and *document-level
n-gram similarity*):

- ``docs_decontaminate``: flag every training document that shares at
  least one word 8-gram with the held-out eval set (the standard
  GPT-3/PaLM-style 8-13-gram collision rule). The eval set here is the
  deterministic fixture subset ``doc_id % 23 = 0``.
- ``docs_ngram_jaccard_pairs``: exact word-3-gram Jaccard similarity
  for candidate pairs discovered through an inverted n-gram index —
  the non-probabilistic sibling of MinHash (dedup.py): no sketch
  error, at the cost of touching every posting.

Scale ledger (100 TB story):
- Both operators join on a 60-bit md5 hash of the gram, never the
  gram string — the shuffled key is 8 bytes regardless of n-gram
  width.
- Gram explosion is linear in corpus tokens; the window ``lead()``
  formulation keeps gram assembly inside WholeStageCodegen (the
  higher-order ``transform()`` lambda alternative is interpreted —
  see MEMORY determinism rules / winnowing history).
- The Jaccard index drops *stop-grams* (document frequency > DF_CAP)
  before pairing, through dedup's capped pair primitive
  (``capped_groups`` + ``unfold_pairs``): frequent grams contribute
  candidates quadratically but evidence of near-duplication only via
  rare grams, so the cutoff bounds every posting list at DF_CAP
  members. This is the same lever ExactSubstr/suffix-array dedup
  pipelines use.
- Decontamination's eval side is tiny by construction (an eval set is
  thousands of docs, not billions) — Catalyst broadcast-joins the
  distinct eval-gram table; the corpus side never shuffles.

Both engines run structurally identical SQL; grams are hashed with
the md5→60-bit rule so values (and therefore the driver's value
hash) match exactly.
"""

from __future__ import annotations

EVAL_MOD = 23  # doc_id % EVAL_MOD == 0 -> held-out eval set (fixture)
DECON_N = 8  # words per collision gram (GPT-3 used 13; fixture docs are short)
JAC_N = 3  # words per Jaccard shingle
DF_CAP = 50  # stop-gram cutoff: drop grams present in > DF_CAP docs
JAC_T = 0.5  # report pairs with Jaccard >= JAC_T

def _grams_cte_spark(width: int) -> str:
    """toks + grams CTEs, window-free (round 8): split once, slide
    over the token ARRAY map-side (transform + slice + concat_ws) —
    no posexplode row blow-up and no per-doc window shuffle+sort. The
    previous lead()-OVER-w form forced a corpus-wide exchange on
    doc_id plus a sort just to look at adjacent tokens that are
    already adjacent in the split array; this form is the dialect
    twin of the DuckDB oracle's t[i:i+w] construction and emits
    byte-identical gram strings."""
    return f"""toks AS (
  SELECT doc_id, split(text, ' ') AS t
  FROM documents
  WHERE size(split(text, ' ')) >= {width}
),
grams AS (
  SELECT DISTINCT doc_id, {_H_SPARK_GRAM} AS gh
  FROM toks
  LATERAL VIEW explode(transform(
    sequence(0, size(t) - {width}),
    i -> concat_ws(' ', slice(t, i + 1, {width}))
  )) g AS gram
)"""

# 60-bit gram hash, identical in both engines (MEMORY md5 rule).
_H_SPARK = "CAST(conv(substr(md5({g}), 1, 15), 16, 10) AS BIGINT)"
_H_DUCK = "CAST(concat('0x', substr(md5({g}), 1, 15)) AS BIGINT)"
_H_SPARK_GRAM = _H_SPARK.format(g="gram")


DECONTAMINATE_SPARK = f"""
WITH {_grams_cte_spark(DECON_N)},
eval_grams AS (
  SELECT DISTINCT gh FROM grams WHERE doc_id % {EVAL_MOD} = 0
)
SELECT g.doc_id, count(*) AS n_shared_grams
FROM grams g JOIN eval_grams e ON g.gh = e.gh
WHERE g.doc_id % {EVAL_MOD} <> 0
GROUP BY g.doc_id
ORDER BY g.doc_id
"""

DECONTAMINATE_DUCK = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         {_H_DUCK.format(g=f"array_to_string(t[i:i+{DECON_N - 1}], ' ')")} AS gh
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, len(t) - {DECON_N - 1}))
                AS i)
),
eval_grams AS (
  SELECT DISTINCT gh FROM grams WHERE doc_id % {EVAL_MOD} = 0
)
SELECT g.doc_id, count(*) AS n_shared_grams
FROM grams g JOIN eval_grams e ON g.gh = e.gh
WHERE g.doc_id % {EVAL_MOD} <> 0
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


_JAC_TAIL = f"""
df AS (
  SELECT gh, count(*) AS n_docs FROM grams GROUP BY gh
),
kept AS (
  SELECT g.doc_id, g.gh
  FROM grams g JOIN df d ON g.gh = d.gh
  WHERE d.n_docs <= {DF_CAP}
),
sizes AS (
  SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id
),
shared AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
  FROM kept a JOIN kept b ON a.gh = b.gh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id1, id2,
       CAST(round(CAST(n_shared AS DOUBLE)
                  / CAST(sa.n + sb.n - n_shared AS DOUBLE), 6)
            AS DOUBLE) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id1
JOIN sizes sb ON sb.doc_id = id2
WHERE CAST(n_shared AS DOUBLE)
      / CAST(sa.n + sb.n - n_shared AS DOUBLE) >= {JAC_T}
ORDER BY id1, id2
"""

NGRAM_JACCARD_SPARK = f"""
WITH {_grams_cte_spark(JAC_N)},
{_JAC_TAIL}"""

NGRAM_JACCARD_DUCK = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         {_H_DUCK.format(g=f"array_to_string(t[i:i+{JAC_N - 1}], ' ')")} AS gh
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, len(t) - {JAC_N - 1}))
                AS i)
),
{_JAC_TAIL}"""


# Spark inlines CTEs: every reference to ``grams`` re-runs the
# posexplode + window gram build — 2x in decontaminate, 3x+ in the
# Jaccard index (observed as 20 Exchanges in the single-statement
# plan). At 100 TB that is re-scanning the corpus per reference, so
# the driver entries materialize the gram table ONCE (persist) and
# run the join tail over the cached view; the single-statement SQL
# above remains the semantic spec (and the DuckDB oracle, which does
# materialize CTEs referenced more than once).

_DECON_TAIL = f"""
WITH eval_grams AS (
  SELECT DISTINCT gh FROM {{v}} WHERE doc_id % {EVAL_MOD} = 0
)
SELECT g.doc_id, count(*) AS n_shared_grams
FROM {{v}} g JOIN eval_grams e ON g.gh = e.gh
WHERE g.doc_id % {EVAL_MOD} <> 0
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


def gram_table(spark, sf_dir, width, production_hash=True):
    """Session-materialized distinct (doc_id, gh) gram table at
    ``width`` words (matcache kind ``decon_grams_w{width}``) —
    round 16 (VERDICT r15 next #7, guide §2.3): the gram build was
    re-run by every consumer invocation (decontaminate, the
    ngram-Jaccard index, the decontam report's exact column); the
    minhash_sigs convention applies — pay it once per (session,
    dataset), scan it thereafter. The DuckDB oracle recomputes every
    consumer end-to-end from the documents table, so a drifted cache
    cannot hash green."""
    from .. import catalog
    from ..matcache import materialize_once

    def build():
        # fanout (guide §2.5): the gram build is the scan stage and
        # the one-row-group input serialized it
        catalog.fanout(
            catalog.load_table(spark, sf_dir, "documents")
        ).createOrReplaceTempView("documents")
        cte = _grams_cte_spark(width)
        if production_hash:
            cte = cte.replace(_H_SPARK_GRAM, "xxhash64(gram)")
        return spark.sql("WITH " + cte + " SELECT * FROM grams")

    kind = f"decon_grams_w{width}" + ("" if production_hash else "_md5")
    return materialize_once(spark, kind, sf_dir, build)


def _materialized_grams(spark, sf_dir, width, view, production_hash=False):
    """Round 15: ``production_hash=True`` swaps the gram key to the
    codegen-native ``xxhash64(gram)`` in the MATERIALIZED build only.
    Safe exactly where gh is internal (compared for equality, never
    output, never re-hashed into bloom positions): decontaminate's
    shared-gram counts and the Jaccard index are hash-function-
    independent barring a 64-bit collision; BLOOM_SPARK keeps the md5
    spec — its positions are md5(gh-string) BY SEMANTICS. Round 16:
    the view now fronts the session-shared matcache table
    (gram_table) instead of a per-invocation persist."""
    grams = gram_table(spark, sf_dir, width, production_hash)
    grams.createOrReplaceTempView(view)
    return grams


def _q_decontaminate(spark, sf_dir):
    _materialized_grams(
        spark, sf_dir, DECON_N, "decon_grams", production_hash=True
    )
    return spark.sql(_DECON_TAIL.format(v="decon_grams"))


# The registered query swaps _JAC_TAIL's posting self-join (kept a JOIN
# kept b ON a.gh = b.gh) for dedup's capped pair primitive, whose
# hot-key guard is the DF_CAP stop-gram cutoff (grams is SELECT
# DISTINCT, so the window count is the gram's document frequency).
# The grouped relation is persisted: its two consumers (sizes and the
# pair unfold) would otherwise each re-run the gh exchange and the
# aggregation (ADVICE r15 #3). NGRAM_JACCARD_DUCK re-proves the rows.
_JAC_UNFOLD_TAIL = f"""
WITH sizes AS (
  SELECT doc_id, count(*) AS n
  FROM (SELECT explode(ids) AS doc_id FROM jac_grouped)
  GROUP BY doc_id
),
shared AS (
  SELECT doc_a AS id1, doc_b AS id2, count(*) AS n_shared
  FROM jac_pairs
  GROUP BY doc_a, doc_b
)
SELECT id1, id2,
       CAST(round(CAST(n_shared AS DOUBLE)
                  / CAST(sa.n + sb.n - n_shared AS DOUBLE), 6)
            AS DOUBLE) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id1
JOIN sizes sb ON sb.doc_id = id2
WHERE CAST(n_shared AS DOUBLE)
      / CAST(sa.n + sb.n - n_shared AS DOUBLE) >= {JAC_T}
ORDER BY id1, id2
"""


def ngram_jaccard_df(grams):
    """(id1, id2, jaccard) over distinct (doc_id, gh) grams."""
    from .dedup import capped_groups, unfold_pairs

    grouped = capped_groups(grams, ("gh",), DF_CAP, min_members=1).persist()
    grouped.createOrReplaceTempView("jac_grouped")
    unfold_pairs(grouped).createOrReplaceTempView("jac_pairs")
    return grams.sparkSession.sql(_JAC_UNFOLD_TAIL)


def _q_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_df(
        gram_table(spark, sf_dir, JAC_N, production_hash=True)
    )


QUERIES = {
    "docs_decontaminate": _q_decontaminate,
    "docs_ngram_jaccard_pairs": _q_ngram_jaccard,
}
ORACLES = {
    "docs_decontaminate": DECONTAMINATE_DUCK,
    "docs_ngram_jaccard_pairs": NGRAM_JACCARD_DUCK,
}


# --------------------------------------------- Bloom-filter decontam
# Bloom membership screen over the SAME 8-gram space docs_decontaminate
# checks exactly: filter bits = the union of k=3 24-bit positions
# (independent md5 hex slices) of every EVAL gram; a train gram "hits"
# iff all 3 of its positions are set. Per train doc the query reports
# bloom-hit grams vs exactly-shared grams — the false-positive margin
# is visible in the output. This is the constant-memory screen a
# 100 TB decontam pass runs FIRST: the bit set broadcasts to every
# executor (m sized to eval-gram count; 2^24 here, 2^32+ in
# production), and only bloom-hit grams pay the exact join. Relational
# formulation (position semi-join + count(DISTINCT slice) = k) keeps
# it engine-checkable in exact integer arithmetic.

_BLOOM_K = 3


def _bloom_sql(engine: str) -> str:
    h = _H_SPARK if engine == "spark" else _H_DUCK
    gram_cte = (
        DECONTAMINATE_SPARK if engine == "spark" else DECONTAMINATE_DUCK
    )
    # reuse everything up to and including the grams CTE
    gram_cte = gram_cte[: gram_cte.index("eval_grams AS")].rstrip().rstrip(",")
    if engine == "spark":
        # round 15: ONE md5 per gram, sliced K ways after an explode —
        # the UNION ALL form re-inlines the whole grams CTE (and its
        # per-gram md5) once per slice (optimization guide §2.3 "don't
        # compute things twice"; plan: 7 gram-pipeline evaluations ->
        # 2). Byte-identical positions: same md5 string, same 6-hex
        # windows, same conv.
        positions = f"""positions AS (
  SELECT doc_id, gh, slice_id,
         CAST(conv(substr(m, 1 + 6 * slice_id, 6), 16, 10) AS BIGINT) AS pos
  FROM (SELECT doc_id, gh, md5(CAST(gh AS STRING)) AS m FROM grams)
  LATERAL VIEW explode(sequence(0, {_BLOOM_K - 1})) s AS slice_id
)"""
    else:
        slices = "\n  UNION ALL\n".join(
            f"  SELECT doc_id, gh, {i} AS slice_id, "
            f"CAST(concat('0x', substr(md5(CAST(gh AS VARCHAR)), {1 + 6 * i}, 6)) AS BIGINT)"
            " AS pos FROM grams"
            for i in range(_BLOOM_K)
        )
        positions = f"positions AS (\n{slices}\n)"
    return f"""{gram_cte},
{positions},
bits AS (
  SELECT DISTINCT pos FROM positions WHERE doc_id % {EVAL_MOD} = 0
),
hit_grams AS (
  SELECT p.doc_id, p.gh
  FROM positions p JOIN bits b ON p.pos = b.pos
  WHERE p.doc_id % {EVAL_MOD} <> 0
  GROUP BY p.doc_id, p.gh
  HAVING count(DISTINCT p.slice_id) = {_BLOOM_K}
),
eval_grams AS (
  SELECT DISTINCT gh FROM grams WHERE doc_id % {EVAL_MOD} = 0
)
SELECT h.doc_id,
       count(*) AS n_bloom_grams,
       CAST(sum(CASE WHEN e.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_grams
FROM hit_grams h LEFT JOIN eval_grams e ON h.gh = e.gh
GROUP BY h.doc_id
ORDER BY h.doc_id
"""


BLOOM_SPARK = _bloom_sql("spark")
BLOOM_DUCK = _bloom_sql("duck")


def _q_bloom_decontam(spark, sf_dir):
    from .. import catalog

    # fanout (guide §2.5): 1.96 -> 1.47 s at sf0.1; the md5 position
    # semantics inside BLOOM_SPARK are untouched
    catalog.fanout(
        catalog.load_table(spark, sf_dir, "documents")
    ).createOrReplaceTempView("documents")
    return spark.sql(BLOOM_SPARK)


QUERIES["docs_bloom_decontam"] = _q_bloom_decontam
ORACLES["docs_bloom_decontam"] = BLOOM_DUCK


# --------------------------------------- semantic (embedding) screen
# Completes the decontamination matrix: the 8-gram/Bloom/Jaccard
# screens above catch verbatim and near-verbatim leaks; paraphrased
# eval contamination needs the embedding side (the screen reported in
# Gemini/GPT-4-class model cards alongside n-gram overlap). Each
# corpus vector scores max cosine against the held-out eval panel
# (vec_id % EMB_EVAL_MOD == 0, mirroring the text screens' fixture
# convention) and flags at SEM_DECONTAM_T.
#
# Exactness: the repo's JVM zip_with/aggregate fold (functions/
# vector.py) — element-order float sums, identical to DuckDB's
# list_sum fold — rounded to 6 dp BEFORE the max, the same contract
# the near-dup family has held green since round 4.
#
# 100-TB shape: the panel is an EVAL SET — bounded small by nature —
# broadcast against the partitioned corpus; cost is linear in
# n x |panel| with no shuffle (the groupBy collapses map-side: every
# (vec, panel) row for a vector sits in one partition). For panels
# beyond ~10^4, swap the fold for mining.py's Arrow GEMM kernel —
# same join geometry, vectorized scoring.

EMB_EVAL_MOD = 23
SEM_DECONTAM_T = 0.30

from .similarity import PANEL_TAIL_SQL  # noqa: E402 (panel-cap contract)


def _q_semantic_decontam(spark, sf_dir):
    from pyspark.sql import functions as F

    from .. import catalog
    from ..functions import vector

    from .similarity import bounded_panel

    emb = catalog.load_table(spark, sf_dir, "embeddings")
    panel = bounded_panel(emb, EMB_EVAL_MOD).select(
        F.col("embedding").alias("eval_emb")
    )
    corpus = emb.filter(F.col("vec_id") % EMB_EVAL_MOD != 0)
    scored = corpus.crossJoin(F.broadcast(panel)).select(
        "vec_id",
        F.round(
            # r15: exact-sequence Arrow fold — bit-identical
            vector.cosine_exact_arrow()(
                F.col("embedding"), F.col("eval_emb")
            ),
            6,
        ).alias("cos"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.max("cos").alias("max_eval_cos"))
        .select(
            "vec_id",
            "max_eval_cos",
            (F.col("max_eval_cos") >= SEM_DECONTAM_T).alias("contaminated"),
        )
    )


SEM_DECONTAM_DUCK = f"""
WITH panel AS (
  SELECT embedding AS eval_emb FROM embeddings
  WHERE vec_id % {EMB_EVAL_MOD} = 0 {PANEL_TAIL_SQL}
),
corpus AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % {EMB_EVAL_MOD} <> 0
),
scored AS (
  SELECT c.vec_id,
         round(
           list_sum(list_transform(generate_series(1, 64),
             i -> CAST(c.embedding[i] AS DOUBLE)
                * CAST(p.eval_emb[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(generate_series(1, 64),
                i -> CAST(c.embedding[i] AS DOUBLE)
                   * CAST(c.embedding[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(generate_series(1, 64),
                i -> CAST(p.eval_emb[i] AS DOUBLE)
                   * CAST(p.eval_emb[i] AS DOUBLE))))),
           6) AS cos
  FROM corpus c, panel p
)
SELECT vec_id,
       max(cos) AS max_eval_cos,
       max(cos) >= {SEM_DECONTAM_T} AS contaminated
FROM scored
GROUP BY vec_id
"""

QUERIES["emb_semantic_decontam"] = _q_semantic_decontam
ORACLES["emb_semantic_decontam"] = SEM_DECONTAM_DUCK


# ------------------------------------- turn-grain eval decontamination
# Round 11 (VERDICT r10 missing #4): the 8-gram gate above runs at
# DOCUMENT grain; the SFT-specific hazard is a benchmark prompt
# leaking in as a USER TURN of a conversation. Same collision rule
# (word 8-grams, 60-bit md5 hash), run over the chat family's turns
# CTE against a STATIC benchmark-prompt panel — an eval suite is a
# fixed small artifact, so the panel is embedded VALUES and Catalyst
# broadcasts its gram table; the corpus side never shuffles anything
# wider than (doc_id, turn_id, 8-byte gh).
#
# Fixture plant (the alignment/chatvalidate convention): organic
# fixture turns run 3-8 tokens — too short to carry an 8-gram — so
# docs with doc_id % TURN_PLANT_MOD == TURN_PLANT_RESIDUE get turn 0
# (always the first user turn) REPLACED by panel prompt
# (doc_id % len(panel)); the gate must flag exactly the turns that
# really contain a panel 8-gram, plant schedule unknown to it.

TURN_PLANT_MOD = 43
TURN_PLANT_RESIDUE = 7

#: the "benchmark suite": each prompt >= 8 words so it carries >= 1
#: collision gram (real eval prompts are sentence-length or longer).
BENCH_PROMPTS = (
    "what is the capital of france answer in one word",
    "summarize the following passage in exactly two short sentences",
    "translate the phrase good morning dear friends into formal german",
    "which planet in the solar system has the most moons",
    "compute the sum of the first one hundred natural numbers",
    "name the author of the novel pride and prejudice please",
)


def _chat_decontam_sql(engine: str) -> str:
    from .chat import toks_duck, toks_spark, turns_duck, turns_spark

    n = len(BENCH_PROMPTS)
    lits = ", ".join(f"'{p}'" for p in BENCH_PROMPTS)
    if engine == "spark":
        toks, turns = toks_spark(), turns_spark()
        pick = (f"element_at(array({lits}),"
                f" CAST(doc_id % {n} AS INT) + 1)")
        panel = f"panel AS (SELECT explode(array({lits})) AS prompt)"
        gh = _H_SPARK.format(g="gram")
        # the size guard sits IN the source subquery (the
        # _grams_cte_spark convention, round-11 review #2): if it
        # trailed the LATERAL VIEW, correctness would ride on Catalyst
        # pushing the predicate through Generate — without that,
        # sequence(0, size(t)-8) on a short turn counts DOWN and
        # slice(t, 0, 8) throws
        turn_grams = f"""turn_grams AS (
  SELECT DISTINCT doc_id, turn_id, {gh} AS gh
  FROM (SELECT doc_id, turn_id, split(content, ' ') AS t
        FROM pturns
        WHERE role = 'user' AND size(split(content, ' ')) >= {DECON_N})
  LATERAL VIEW explode(transform(
    sequence(0, size(t) - {DECON_N}),
    i -> concat_ws(' ', slice(t, i + 1, {DECON_N}))
  )) g AS gram
)"""
        panel_grams = f"""panel_grams AS (
  SELECT DISTINCT {gh} AS gh
  FROM (SELECT split(prompt, ' ') AS t FROM panel)
  LATERAL VIEW explode(transform(
    sequence(0, size(t) - {DECON_N}),
    i -> concat_ws(' ', slice(t, i + 1, {DECON_N}))
  )) g AS gram
)"""
    else:
        toks, turns = toks_duck(), turns_duck()
        pick = f"([{lits}])[CAST(doc_id % {n} AS INT) + 1]"
        panel = f"panel AS (SELECT unnest([{lits}]) AS prompt)"
        gh = _H_DUCK.format(
            g=f"array_to_string(t[i:i+{DECON_N - 1}], ' ')"
        )
        turn_grams = f"""turn_grams AS (
  SELECT DISTINCT doc_id, turn_id, {gh} AS gh
  FROM (SELECT doc_id, turn_id, string_split(content, ' ') AS t
        FROM pturns WHERE role = 'user'),
       LATERAL (SELECT unnest(generate_series(1, len(t) - {DECON_N - 1}))
                AS i)
  WHERE len(t) >= {DECON_N}
)"""
        panel_grams = f"""panel_grams AS (
  SELECT DISTINCT {gh} AS gh
  FROM (SELECT string_split(prompt, ' ') AS t FROM panel),
       LATERAL (SELECT unnest(generate_series(1, len(t) - {DECON_N - 1}))
                AS i)
)"""
    return f"""WITH {toks},
{turns},
pturns AS (
  SELECT doc_id, turn_id, role,
         CASE WHEN doc_id % {TURN_PLANT_MOD} = {TURN_PLANT_RESIDUE}
                   AND turn_id = 0
              THEN {pick} ELSE content END AS content
  FROM turns
),
{panel},
{panel_grams},
{turn_grams}
SELECT g.doc_id, g.turn_id, CAST(count(*) AS BIGINT) AS n_shared_grams
FROM turn_grams g JOIN panel_grams p ON g.gh = p.gh
GROUP BY g.doc_id, g.turn_id
ORDER BY g.doc_id, g.turn_id
"""


CHAT_DECONTAM_SPARK = _chat_decontam_sql("spark")
CHAT_DECONTAM_DUCK = _chat_decontam_sql("duck")

def _q_chat_decontam(spark, sf_dir):
    # turns chain from the session-materialized table (round 15)
    from .chat import run_with_mat_turns

    return run_with_mat_turns(spark, sf_dir, CHAT_DECONTAM_SPARK)


QUERIES["docs_chat_decontam"] = _q_chat_decontam
ORACLES["docs_chat_decontam"] = CHAT_DECONTAM_DUCK


# --------------------------------------- decontamination report card
# Round 11: the per-source rollup a model card's contamination
# section publishes (GPT-4/PaLM report exactly this table) — every
# number composed from the GATED screens verbatim (the SFT-card
# composition rule): exact 8-gram hits, Bloom-screen hits with the
# false-positive margin visible (bloom-hit docs with ZERO exact
# grams), and turn-grain benchmark leaks. Spark registers the gated
# queries as views; the oracle nests each screen's full WITH as an
# independent subquery (CTE names never collide across screens).
#
# Denominators differ by design: the doc-grain screens run on TRAIN
# docs (doc_id % EVAL_MOD <> 0 — eval docs are the panel), the turn
# screen on every conversation. greatest(...,1) guards both dialects
# on a degenerate source (the matryoshka ADVICE rule).

_DECON_REPORT_TAIL = """
, report_base AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN doc_id % {eval_mod} <> 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_train_docs
  FROM documents GROUP BY source
),
ex AS (
  SELECT d.source, CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n
  FROM {ex} e JOIN documents d ON d.doc_id = e.doc_id
  GROUP BY d.source
),
bl AS (
  SELECT d.source,
         CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n,
         CAST(count(DISTINCT CASE WHEN b.n_exact_grams = 0
                                  THEN b.doc_id END) AS BIGINT) AS n_fp
  FROM {bl} b JOIN documents d ON d.doc_id = b.doc_id
  GROUP BY d.source
),
tn AS (
  SELECT d.source, CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n
  FROM {tn} t JOIN documents d ON d.doc_id = t.doc_id
  GROUP BY d.source
)
SELECT b.source, b.n_docs, b.n_train_docs,
       CAST(coalesce(ex.n, 0) AS BIGINT) AS ngram8_hit_docs,
       CAST(coalesce(ex.n, 0) * 1000000
            {div} greatest(b.n_train_docs, 1) AS BIGINT) AS ngram8_ppm,
       CAST(coalesce(bl.n, 0) AS BIGINT) AS bloom_hit_docs,
       CAST(coalesce(bl.n_fp, 0) AS BIGINT) AS bloom_fp_docs,
       CAST(coalesce(tn.n, 0) AS BIGINT) AS turn_hit_docs,
       CAST(coalesce(tn.n, 0) * 1000000
            {div} greatest(b.n_docs, 1) AS BIGINT) AS turn_hit_ppm
FROM report_base b
     LEFT JOIN ex ON b.source = ex.source
     LEFT JOIN bl ON b.source = bl.source
     LEFT JOIN tn ON b.source = tn.source
"""

DECON_REPORT_SPARK = (
    "WITH _x AS (SELECT 1)"
    + _DECON_REPORT_TAIL.format(
        eval_mod=EVAL_MOD, ex="dr_exact", bl="dr_bloom", tn="dr_turn",
        div="DIV",
    )
)

DECON_REPORT_DUCK = (
    "WITH _x AS (SELECT 1)"
    + _DECON_REPORT_TAIL.format(
        eval_mod=EVAL_MOD,
        ex=f"({DECONTAMINATE_DUCK})",
        bl=f"({BLOOM_DUCK})",
        tn=f"({CHAT_DECONTAM_DUCK})",
        div="//",
    )
)


def _q_decontam_report(spark, sf_dir):
    from .. import catalog

    catalog.load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    # round 16: the exact column rides the session-shared gram table
    # (same tail as docs_decontaminate) instead of re-deriving the
    # inline gram chain; the report oracle recomputes it end-to-end
    _materialized_grams(
        spark, sf_dir, DECON_N, "decon_grams", production_hash=True
    )
    spark.sql(
        _DECON_TAIL.format(v="decon_grams")
    ).createOrReplaceTempView("dr_exact")
    spark.sql(BLOOM_SPARK).createOrReplaceTempView("dr_bloom")
    spark.sql(CHAT_DECONTAM_SPARK).createOrReplaceTempView("dr_turn")
    return spark.sql(DECON_REPORT_SPARK)


QUERIES["docs_decontam_report"] = _q_decontam_report
ORACLES["docs_decontam_report"] = DECON_REPORT_DUCK


# --------------------------------------- fuzzy (MinHash) decontam
# Round 13: the SKETCH-based sibling of docs_decontaminate. Exact
# 8-gram collision catches verbatim leakage; production pipelines
# (Llama-2/3 style) ALSO run fuzzy decontam — near-duplicate eval
# docs whose wording drifted (whitespace, casing, paraphrase chunks)
# never collide on a full 8-gram. This reuses the dedup MinHash
# machinery CROSS-SET: LSH band buckets between the eval slice and
# the training side propose candidates, and exact shingle CONTAINMENT
# of the eval doc in the training doc (n_inter / n_eval_shingles, the
# asymmetric measure — a training doc EMBEDDING the whole eval doc
# must flag even if the training doc is much longer) verifies them.
#
# 100-TB shape: signature build is the gated one-shuffle pass
# (dedup.minhash_signatures_df); the eval side of the band join is
# tiny by construction (an eval set is thousands of docs) so Catalyst
# broadcasts it; hot buckets are capped at FUZZY_BUCKET_CAP before
# the join (dedup.drop_hot_keys) — and the DuckDB oracle applies the
# IDENTICAL cap, so the candidate definition matches on both engines
# at any bucket size (r13 ADVICE: parity previously held only while
# no fixture bucket exceeded the cap).
#
# RECALL ASYMMETRY (decontam-specific, unlike dedup): dedup tolerates
# a dropped mega-bucket because connected components restores cliques
# from surviving edges; decontam has no transitive rescue — a dropped
# candidate pair IS a potentially-leaked eval doc. The cap is still
# the right default (a mega-bucket is a degenerate shingle pattern —
# boilerplate — whose members also collide in other buckets), but a
# governance run that must not trade recall for cost should call this
# builder with cap=None and pay the quadratic bucket.

FUZZY_BUCKET_CAP = 256


def fuzzy_decontam_df(docs, cap: int | None = FUZZY_BUCKET_CAP, sigs=None):
    """Fuzzy (MinHash-LSH) cross-set decontam over a documents frame.
    ``cap=None`` disables the hot-bucket cap for zero-recall-loss
    governance runs (see module note on the recall asymmetry).
    ``sigs`` lets a caller with an already-materialized signature
    table (dedup.minhash_sigs) skip the shingle->minhash build."""
    from pyspark.sql import functions as F

    from .dedup import (
        drop_hot_keys,
        lsh_bands_df,
        minhash_signatures_df,
        shingle_sets,
    )

    bands = lsh_bands_df(
        sigs if sigs is not None else minhash_signatures_df(docs)
    )
    if cap is not None:
        bands = drop_hot_keys(bands, ("band", "bucket"), cap)
    ev = bands.filter(F.col("doc_id") % EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "band", "bucket"
    )
    tr = bands.filter(F.col("doc_id") % EVAL_MOD != 0)
    cand = (
        tr.join(F.broadcast(ev), ["band", "bucket"])
        .select("doc_id", "eval_doc_id")
        .distinct()
    )
    sh = shingle_sets(docs, distinct=True).select("doc_id", "shingle")
    ev_sizes = (
        sh.filter(F.col("doc_id") % EVAL_MOD == 0)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_eval_shingles"))
        .select(F.col("doc_id").alias("eval_doc_id"), "n_eval_shingles")
    )
    inter = (
        cand.join(sh, "doc_id")
        .join(
            sh.select(
                F.col("doc_id").alias("_ev_id"),
                F.col("shingle").alias("eval_shingle"),
            ),
            (F.col("eval_doc_id") == F.col("_ev_id"))
            & (F.col("shingle") == F.col("eval_shingle")),
        )
        .groupBy("doc_id", "eval_doc_id")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(F.broadcast(ev_sizes), "eval_doc_id")
        .select(
            "doc_id",
            "eval_doc_id",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("n_eval_shingles").cast("long").alias("n_eval_shingles"),
            F.expr("CAST(n_inter * 1000000 DIV n_eval_shingles AS BIGINT)")
            .alias("containment_ppm"),
        )
        .withColumn(
            "flagged",
            (F.col("containment_ppm") >= 500_000).cast("int"),
        )
    )


def _q_fuzzy_decontam(spark, sf_dir):
    from .. import catalog
    from .dedup import minhash_sigs

    # fanout (guide §2.5): 2.35 -> 1.73 s at sf0.1; signatures from
    # the session-shared artifact (round 15)
    return fuzzy_decontam_df(
        catalog.fanout(catalog.load_table(spark, sf_dir, "documents")),
        sigs=minhash_sigs(spark, sf_dir),
    )


def _fuzzy_decontam_duck() -> str:
    from .dedup import _BANDS_DUCK, _SHINGLES_DUCK, _SIGS_DUCK

    return f"""WITH {_SHINGLES_DUCK},
{_SIGS_DUCK},
{_BANDS_DUCK},
bands_capped AS (
  SELECT band, bucket, doc_id FROM (
    SELECT band, bucket, doc_id,
           count(*) OVER (PARTITION BY band, bucket) AS _bsz
    FROM bands
  ) WHERE _bsz <= {FUZZY_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT t.doc_id, e.doc_id AS eval_doc_id
  FROM bands_capped t JOIN bands_capped e
    ON t.band = e.band AND t.bucket = e.bucket
  WHERE e.doc_id % {EVAL_MOD} = 0 AND t.doc_id % {EVAL_MOD} <> 0
),
ev_sizes AS (
  SELECT doc_id AS eval_doc_id, count(*) AS n_eval_shingles
  FROM shingles WHERE doc_id % {EVAL_MOD} = 0 GROUP BY 1
),
inter AS (
  SELECT c.doc_id, c.eval_doc_id, count(*) AS n_inter
  FROM cand c
       JOIN shingles st ON st.doc_id = c.doc_id
       JOIN shingles se ON se.doc_id = c.eval_doc_id
                       AND se.shingle = st.shingle
  GROUP BY c.doc_id, c.eval_doc_id
)
SELECT i.doc_id, i.eval_doc_id,
       CAST(i.n_inter AS BIGINT) AS n_inter,
       CAST(z.n_eval_shingles AS BIGINT) AS n_eval_shingles,
       CAST(i.n_inter * 1000000 // z.n_eval_shingles AS BIGINT)
           AS containment_ppm,
       CAST(CASE WHEN i.n_inter * 1000000 // z.n_eval_shingles >= 500000
                 THEN 1 ELSE 0 END AS INT) AS flagged
FROM inter i JOIN ev_sizes z ON z.eval_doc_id = i.eval_doc_id
"""


QUERIES["docs_fuzzy_decontam"] = _q_fuzzy_decontam
ORACLES["docs_fuzzy_decontam"] = _fuzzy_decontam_duck()
