"""RLHF preference-data operators: pair construction, best-of-N
rejection sampling, and policy win-rate rollup.

After SFT (operators/chat.py) the pipeline turns to preference data:
pairs of candidate responses ranked by a scorer (RLHF/DPO training
rows), best-of-N selection (rejection sampling, the Llama-2/RLAIF
data-generation step), and per-policy win-rate tracking. No reference
counterpart (the reference is image-caption only); public anchors:
Ouyang et al. 2022 (InstructGPT pairwise comparisons), Touvron et al.
2023 (Llama-2 rejection sampling), Rafailov et al. 2023 (DPO's
(prompt, chosen, rejected) row shape).

Deterministic instantiation (the lmobjectives.py seeding pattern):
candidate k for a prompt (doc) is a seeded 40-char window into the
document — md5-derived offsets, so both engines replay it — and the
"reward model" is an exact-integer fluency scorer over the candidate:

    score = 1_000_000·stop_hits DIV n_toks + 1_000·n_distinct DIV n_toks

(stopword density dominates, type diversity breaks ranks; all integer,
so argmax/margins are exact and the whole family hash-gates). Ties
break toward the SMALLER candidate index — pinned in both dialects.

Scale posture: the candidate explode is a bounded ×N fan-out of a
40-char window (never the full document); scoring is one more bounded
explode + a (doc, k) map-side-combined count; selection is a per-doc
argmax via one doc-keyed window; the win-rate rollup groups by source.
Nothing shuffles anything wider than (doc_id, k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import catalog
from .sqlrun import _run
from .textanalysis import _SW_LIST_SQL

N_CANDIDATES = 4     # rejection sampling best-of-N
RESP_CHARS = 40      # candidate window width


def _hk(engine: str) -> str:
    """28-bit md5 int seeded by (doc_id, k)."""
    if engine == "spark":
        return ("CAST(conv(substr(md5(concat(doc_id, ':c', k)), 1, 7),"
                " 16, 10) AS BIGINT)")
    return ("CAST(concat('0x', substr(md5(concat(doc_id, ':c', k)), 1, 7))"
            " AS BIGINT)")


def _chain(engine: str, n_cands: int, table: str = "documents") -> str:
    """cands -> ctoks -> scored: shared by all three queries.

    ``table`` parameterizes the source relation (the rlvr._chain
    convention) so streaming twins build their per-batch partial SQL
    from the SAME template instead of textually rewriting the batch
    string (ADVICE r12: a rename/alias inside this chain would have
    silently broken prefgate's ``.replace("FROM documents", ...)``)."""
    if engine == "spark":
        kgen = (f"LATERAL VIEW explode(sequence(0, {n_cands - 1})) t AS k")
        tok_x = ("LATERAL VIEW explode(split(resp, ' ')) t2 AS token")
        div = "DIV"
    else:
        kgen = (f", LATERAL (SELECT unnest(generate_series(0,"
                f" {n_cands - 1})) AS k)")
        tok_x = (", LATERAL (SELECT unnest(string_split(resp, ' '))"
                 " AS token)")
        div = "//"
    return f"""cands AS (
  SELECT doc_id, CAST(k AS INT) AS k,
         substr(text,
                CAST(1 + ({_hk(engine)}
                     % greatest(length(text) - {RESP_CHARS - 1}, 1)) AS INT),
                {RESP_CHARS}) AS resp
  FROM {table}
  {kgen}
),
ctoks AS (
  SELECT doc_id, k, token
  FROM cands
  {tok_x}
  WHERE length(token) > 0
),
scored AS (
  SELECT c.doc_id, c.k, md5(c.resp) AS resp_md5,
         s.n_toks, s.n_distinct,
         CAST(s.stop_hits * 1000000 {div} s.n_toks
              + s.n_distinct * 1000 {div} s.n_toks AS BIGINT) AS score
  FROM cands c JOIN (
    SELECT doc_id, k,
           count(*) AS n_toks,
           count(DISTINCT token) AS n_distinct,
           sum(CASE WHEN token IN ({_SW_LIST_SQL}) THEN 1 ELSE 0 END)
               AS stop_hits
    FROM ctoks GROUP BY doc_id, k
  ) s ON c.doc_id = s.doc_id AND c.k = s.k
),
ranked AS (
  SELECT doc_id, k, resp_md5, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, k ASC) AS rnk
  FROM scored
)"""


# -------------------------------------------------- (chosen, rejected)
# DPO row shape over the first two candidates: k=0 vs k=1, chosen by
# score with the k-asc tie rule.

_PAIRS_TAIL = """
SELECT a.doc_id,
       CAST(CASE WHEN a.score >= b.score THEN a.k ELSE b.k END AS INT)
           AS chosen_k,
       CAST(CASE WHEN a.score >= b.score THEN b.k ELSE a.k END AS INT)
           AS rejected_k,
       CASE WHEN a.score >= b.score THEN a.resp_md5 ELSE b.resp_md5 END
           AS chosen_md5,
       CASE WHEN a.score >= b.score THEN b.resp_md5 ELSE a.resp_md5 END
           AS rejected_md5,
       CAST(abs(a.score - b.score) AS BIGINT) AS margin
FROM scored a JOIN scored b
  ON a.doc_id = b.doc_id AND a.k = 0 AND b.k = 1
"""

# ------------------------------------------------- best-of-N selection

_BESTOF_TAIL = f"""
, agg AS (
  SELECT doc_id,
         CAST(count(*) AS INT) AS n_cands,
         CAST(max(score) AS BIGINT) AS best_score,
         CAST(min(score) AS BIGINT) AS worst_score,
         CAST(sum(score) {{div}} count(*) AS BIGINT) AS mean_score
  FROM scored GROUP BY doc_id
)
SELECT r.doc_id, r.k AS best_k, r.resp_md5 AS best_md5,
       a.n_cands, a.best_score, a.worst_score,
       CAST(a.best_score - a.worst_score AS BIGINT) AS score_spread,
       a.mean_score
FROM ranked r JOIN agg a ON r.doc_id = a.doc_id
WHERE r.rnk = 1
"""

# --------------------------------------------------- policy win rates
# Treat candidate index k as the generating POLICY (k seeded windows =
# k sampling strategies); per source report each policy's best-of-N
# win count and its win rate in ppm — the per-policy tracking number
# an RLHF data loop monitors.

_WINRATE_TAIL = """
, best AS (
  SELECT doc_id, k FROM ranked WHERE rnk = 1
)
SELECT d.source, b.k AS policy,
       CAST(count(*) AS BIGINT) AS n_wins,
       CAST(count(*) * 1000000 {div} max(t.n_docs) AS BIGINT) AS win_ppm
FROM best b
     JOIN documents d ON b.doc_id = d.doc_id
     JOIN (SELECT source, count(*) AS n_docs
           FROM documents GROUP BY source) t ON d.source = t.source
GROUP BY d.source, b.k
"""


def _sql(engine: str, tail: str, n_cands: int = N_CANDIDATES,
         table: str = "documents") -> str:
    div = "DIV" if engine == "spark" else "//"
    return f"WITH {_chain(engine, n_cands, table)}" + tail.format(div=div)


PREF_PAIRS_SPARK = _sql("spark", _PAIRS_TAIL, 2)
PREF_PAIRS_DUCK = _sql("duck", _PAIRS_TAIL, 2)
BESTOF_SPARK = _sql("spark", _BESTOF_TAIL)
BESTOF_DUCK = _sql("duck", _BESTOF_TAIL)
WINRATE_SPARK = _sql("spark", _WINRATE_TAIL)
WINRATE_DUCK = _sql("duck", _WINRATE_TAIL)



# ------------------------------------------- margin distribution
# DPO data-quality audit: the margin histogram decides whether the
# pair set carries signal (wide margins) or is mostly coin-flips
# (mass at zero) — the check run before paying for preference
# training. Pure re-aggregation of the SAME gated pairs chain.

MARGIN_BUCKET = 50_000  # margin DIV 50k, clamped to bucket 9

_MARGIN_TAIL = f"""
SELECT CAST(least(abs(a.score - b.score) {{div}} {MARGIN_BUCKET}, 9)
            AS INT) AS margin_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(abs(a.score - b.score)) AS BIGINT) AS min_margin,
       CAST(max(abs(a.score - b.score)) AS BIGINT) AS max_margin
FROM scored a JOIN scored b
  ON a.doc_id = b.doc_id AND a.k = 0 AND b.k = 1
GROUP BY 1
"""

MARGIN_HIST_SPARK = _sql("spark", _MARGIN_TAIL, 2)
MARGIN_HIST_DUCK = _sql("duck", _MARGIN_TAIL, 2)

# ---------------------------------- Bradley-Terry policy strengths
# VERDICT r10 missing #2: docs_policy_winrate reports raw pairwise win
# rates; the standard summary an RLHF pipeline publishes is a FITTED
# strength per policy — Bradley-Terry MLE via the Zermelo/MM update
# (public anchors: Bradley & Terry 1952; Hunter 2004 "MM algorithms
# for generalized Bradley-Terry models"):
#
#     p_i  <-  W_i / sum_{j!=i} n_ij / (p_i + p_j),   renormalized.
#
# Exact-integer instantiation (the DoReMi-MWU unroll shape, all
# divisions trunc-toward-zero on non-negative ints so Python //,
# Spark DIV, DuckDB // agree; NO log machinery needed — the MM step
# is rational, unlike the exp in softmax-style fits):
#
#     denom_i = sum_j n_ij * Q12 // (p_i + p_j)        (p in Q6)
#     raw_i   = W_i * Q12 // denom_i
#     p_i     = max(raw_i * Q6 // sum(raw), 1)          (clamp keeps
#               a total-loser policy's strength positive so no later
#               round divides by a zero p_i + p_j)
#
# Distribution shape: the corpus-scale work — candidate scoring and
# the pairwise win matrix — is the SAME gated `scored` chain plus one
# (k x k)-bounded aggregate; the MM rounds run on the driver over ONE
# <= k(k-1)/2-row collect (6 rows at N_CANDIDATES=4, corpus-
# independent), and the DuckDB oracle replays the full trajectory as
# BT_ROUNDS unrolled k-row CTEs (AS MATERIALIZED per house rule).
# Overflow ledger: W_i <= (k-1)*n_docs; W_i*Q12 stays < 2^53 for
# n_docs < ~3e3 at the gate's sf, and the production path would drop
# to Q9 scaling long before that matters.

BT_ROUNDS = 8
_Q6 = 1_000_000
_Q12 = _Q6 * _Q6

# policy i beats j on a doc iff score_i > score_j, ties to the
# SMALLER candidate index — the same rule the ranked CTE pins.
_WIN_PRED = ("a.score > b.score OR (a.score = b.score AND a.k < b.k)")

_PAIRWISE_TAIL = f"""
SELECT a.k AS ki, b.k AS kj,
       CAST(count(*) AS BIGINT) AS n_games,
       CAST(sum(CASE WHEN {_WIN_PRED} THEN 1 ELSE 0 END) AS BIGINT)
           AS wins_i
FROM scored a JOIN scored b ON a.doc_id = b.doc_id AND a.k < b.k
GROUP BY a.k, b.k
"""


def bt_trajectory(
    pair_rows: list[tuple[int, int, int, int]], rounds: int = BT_ROUNDS
) -> list[tuple[int, int, int]]:
    """Driver-side exact-integer BT MM fit over the pairwise win
    matrix. ``pair_rows`` = [(ki, kj, n_games, wins_i)] with ki < kj;
    returns [(policy, n_wins, strength_ppm)]."""
    games: dict[tuple[int, int], int] = {}
    wins: dict[int, int] = {}
    for ki, kj, n, wi in pair_rows:
        games[(ki, kj)] = games[(kj, ki)] = n
        wins[ki] = wins.get(ki, 0) + wi
        wins[kj] = wins.get(kj, 0) + (n - wi)
    ks = sorted(wins)
    p = {i: _Q6 // len(ks) for i in ks}
    for _ in range(rounds):
        # .get(): a pair with no recorded games contributes nothing to
        # the MM denominator (ADVICE r11 — the fixed all-pairs fixture
        # always has every pair, but sparse comparison data must not
        # KeyError on reuse)
        denom = {
            i: sum(
                games.get((i, j), 0) * _Q12 // (p[i] + p[j])
                for j in ks if j != i
            )
            for i in ks
        }
        raw = {i: wins[i] * _Q12 // denom[i] for i in ks}
        tot = sum(raw.values())
        p = {i: max(raw[i] * _Q6 // tot, 1) for i in ks}
    return [(i, wins[i], p[i]) for i in ks]


def _q_bt_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout (guide §2.5): 1.45 -> 1.24 s at sf0.1
    catalog.fanout(
        catalog.load_table(spark, sf_dir, "documents")
    ).createOrReplaceTempView("documents")
    pair_rows = [
        (int(r["ki"]), int(r["kj"]), int(r["n_games"]), int(r["wins_i"]))
        for r in spark.sql(
            f"WITH {_chain('spark', N_CANDIDATES)}{_PAIRWISE_TAIL}"
        ).collect()  # k(k-1)/2 rows only (house k-row-witness policy)
    ]
    rows = bt_trajectory(pair_rows)
    return spark.createDataFrame(
        rows, "policy INT, n_wins BIGINT, strength_ppm BIGINT"
    ).orderBy("policy")


def _bt_duck(rounds: int = BT_ROUNDS) -> str:
    parts = [
        f"""{_chain('duck', N_CANDIDATES)},
pairw AS MATERIALIZED ({_PAIRWISE_TAIL}),
games AS MATERIALIZED (
  SELECT ki AS i, kj AS j, n_games, wins_i AS wins FROM pairw
  UNION ALL
  SELECT kj AS i, ki AS j, n_games, n_games - wins_i AS wins FROM pairw
),
wtot AS MATERIALIZED (
  SELECT i, CAST(sum(wins) AS BIGINT) AS w FROM games GROUP BY i
),
p0 AS MATERIALIZED (
  SELECT i, CAST({_Q6} // (SELECT count(*) FROM wtot) AS BIGINT) AS p
  FROM wtot
)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"""
d{t} AS MATERIALIZED (
  SELECT g.i,
         CAST(sum(g.n_games * {_Q12} // (pi.p + pj.p)) AS BIGINT) AS denom
  FROM games g
       JOIN p{t - 1} pi ON pi.i = g.i
       JOIN p{t - 1} pj ON pj.i = g.j
  GROUP BY g.i
),
r{t} AS MATERIALIZED (
  SELECT w.i, CAST(w.w * {_Q12} // d.denom AS BIGINT) AS raw
  FROM wtot w JOIN d{t} d ON d.i = w.i
),
p{t} AS MATERIALIZED (
  SELECT i,
         CAST(greatest(raw * {_Q6} // (SELECT sum(raw) FROM r{t}), 1)
              AS BIGINT) AS p
  FROM r{t}
)"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT CAST(w.i AS INT) AS policy, w.w AS n_wins,
       p{rounds}.p AS strength_ppm
FROM wtot w JOIN p{rounds} ON p{rounds}.i = w.i
ORDER BY policy
"""
    )


BT_STRENGTHS_DUCK = _bt_duck()

# ------------------------------ reward-ensemble disagreement audit
# Round 11: a single reward model is gameable; production RLHF loops
# score candidates with an ENSEMBLE and audit where the members
# disagree (reward-hacking detection — Coste et al. 2023 "Reward
# Model Ensembles Help Mitigate Overoptimization"; Llama-2 dual
# helpfulness/safety RMs). Scorer A is the gated fluency scorer
# (stopword density; the `scored` chain verbatim); scorer B prefers
# lexical DIVERSITY and length:
#
#     score_b = n_distinct * 10^6 DIV n_toks + n_toks * 1000
#
# Per prompt the audit reports each scorer's argmax, whether they
# agree, and ``regret_a`` — how much scorer A thinks is lost by
# deferring to B's pick (the number that decides which prompts need
# human adjudication). All integers; ties break toward smaller k,
# the family rule.

# scorer B (lexical diversity + length) — ONE definition shared by
# the ensemble audit and the calibration curve, so the two gates can
# never audit different scorers (review r12b finding #3)
_SCORE_B_EXPR = ("CAST(n_distinct * 1000000 {div} n_toks"
                 " + n_toks * 1000 AS BIGINT)")

_ENSEMBLE_TAIL = f"""
, duo AS (
  SELECT doc_id, k, score AS score_a,
         {_SCORE_B_EXPR} AS score_b
  FROM scored
),
pa AS (
  SELECT doc_id, k, score_a,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_a DESC, k) AS rn
  FROM duo
),
pb AS (
  SELECT doc_id, k,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_b DESC, k) AS rn
  FROM duo
)
SELECT a.doc_id,
       CAST(a.k AS INT) AS best_a,
       CAST(b.k AS INT) AS best_b,
       a.k = b.k AS agree,
       CAST(a.score_a - d.score_a AS BIGINT) AS regret_a
FROM pa a
     JOIN pb b ON a.doc_id = b.doc_id AND b.rn = 1
     JOIN duo d ON d.doc_id = a.doc_id AND d.k = b.k
WHERE a.rn = 1
"""

ENSEMBLE_SPARK = _sql("spark", _ENSEMBLE_TAIL)
ENSEMBLE_DUCK = _sql("duck", _ENSEMBLE_TAIL)

# ----------------------------------------- chosen-length bias audit
# Round 12 (VERDICT r11 next #4): the best-documented preference-data
# artifact is length bias — reward models that prefer VERBOSE
# responses (public anchors: Singhal et al. 2023 "A Long Way to Go:
# Investigating Length Correlations in RLHF"; Dubois et al. 2024
# length-controlled AlpacaEval). The audit rolls the pairs chain up
# by the token-length delta of (chosen - rejected), clamped to
# [-LEN_BIAS_CLAMP, +LEN_BIAS_CLAMP] buckets: an unbiased scorer
# spreads mass across both signs; a verbose-biased one concentrates
# at delta >= 0. The fixture follows the chatvalidate planted-defect
# convention — docs with doc_id % 5 = 3 form a PLANTED slice whose
# winner is picked by a deliberately verbose-biased rule (longer
# candidate wins, score breaks ties), everything else keeps the
# organic normalized scorer — so the audit must CATCH the planted
# slice (its mass sits entirely in delta >= 0 buckets) while the
# organic slice shows the scorer's true spread. share_ppm is within-
# slice (integer ppm), so the two slices read on one scale.
#
# Scale: one extra projection over the same bounded pairs join;
# rollup is slice x 9 buckets. All integer — exact gate.

LEN_BIAS_CLAMP = 4
_PLANTED_PRED = "a.doc_id % 5 = 3"

_LEN_BIAS_TAIL = f"""
, pairs2 AS (
  SELECT a.doc_id,
         CASE WHEN {_PLANTED_PRED} THEN 'planted' ELSE 'organic' END
             AS slice,
         CASE WHEN (CASE WHEN {_PLANTED_PRED}
                         THEN a.n_toks > b.n_toks
                              OR (a.n_toks = b.n_toks
                                  AND a.score >= b.score)
                         ELSE a.score >= b.score END)
              THEN a.n_toks ELSE b.n_toks END AS chosen_toks,
         CASE WHEN (CASE WHEN {_PLANTED_PRED}
                         THEN a.n_toks > b.n_toks
                              OR (a.n_toks = b.n_toks
                                  AND a.score >= b.score)
                         ELSE a.score >= b.score END)
              THEN b.n_toks ELSE a.n_toks END AS rejected_toks
  FROM scored a JOIN scored b
    ON a.doc_id = b.doc_id AND a.k = 0 AND b.k = 1
),
bucketed AS (
  SELECT slice,
         CAST(least(greatest(chosen_toks - rejected_toks,
                             -{LEN_BIAS_CLAMP}), {LEN_BIAS_CLAMP})
              AS INT) AS len_delta_bucket
  FROM pairs2
),
slice_tot AS (
  SELECT slice, CAST(count(*) AS BIGINT) AS n_slice
  FROM bucketed GROUP BY slice
)
SELECT b.slice, b.len_delta_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(*) * 1000000 {{div}} max(t.n_slice) AS BIGINT)
           AS share_ppm
FROM bucketed b JOIN slice_tot t ON b.slice = t.slice
GROUP BY b.slice, b.len_delta_bucket
"""

LEN_BIAS_SPARK = _sql("spark", _LEN_BIAS_TAIL, 2)
LEN_BIAS_DUCK = _sql("duck", _LEN_BIAS_TAIL, 2)

# -------------------------------- margin-vs-agreement calibration curve
# A reward margin is only meaningful if larger margins predict more
# reliable preferences (the calibration property ensemble methods
# lean on — Coste et al. 2023). The audit buckets the k0-vs-k1 pairs
# by scorer A's margin (the gated MARGIN_BUCKET grid) and reports how
# often scorer B (the diversity+length member of the gated ensemble)
# orders the pair the SAME way: a calibrated margin shows agreement
# rising with the bucket; a flat curve means margin magnitude carries
# no information and margin-filtering the pair set is theater. Both
# scorers apply the k-asc tie rule (>= 0 chooses k=0), so agreement
# is exact-integer; one more projection over the bounded pairs join.

_CALIB_TAIL = f"""
, duo2 AS (
  SELECT doc_id, k, score AS score_a,
         {_SCORE_B_EXPR} AS score_b
  FROM scored
),
pairsd AS (
  SELECT a.doc_id,
         a.score_a - b.score_a AS da,
         a.score_b - b.score_b AS db
  FROM duo2 a JOIN duo2 b
    ON a.doc_id = b.doc_id AND a.k = 0 AND b.k = 1
)
SELECT CAST(least(abs(da) {{div}} {MARGIN_BUCKET}, 9) AS INT)
           AS margin_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN (da >= 0) = (db >= 0) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_agree,
       CAST(sum(CASE WHEN (da >= 0) = (db >= 0) THEN 1 ELSE 0 END)
            * 1000000 {{div}} count(*) AS BIGINT) AS agree_ppm
FROM pairsd
GROUP BY 1
"""

CALIB_SPARK = _sql("spark", _CALIB_TAIL, 2)
CALIB_DUCK = _sql("duck", _CALIB_TAIL, 2)

QUERIES = {
    "docs_pref_pairs": _run(PREF_PAIRS_SPARK, ("documents",)),
    "docs_rejection_sampling": _run(BESTOF_SPARK, ("documents",)),
    "docs_policy_winrate": _run(WINRATE_SPARK, ("documents",)),
    "docs_pref_margin_hist": _run(MARGIN_HIST_SPARK, ("documents",)),
    "docs_policy_bt_strengths": _q_bt_strengths,
    "docs_reward_ensemble_disagreement": _run(ENSEMBLE_SPARK, ("documents",)),
    "docs_pref_length_bias": _run(LEN_BIAS_SPARK, ("documents",)),
    "docs_margin_agreement_curve": _run(CALIB_SPARK, ("documents",)),
}
ORACLES = {
    "docs_pref_pairs": PREF_PAIRS_DUCK,
    "docs_rejection_sampling": BESTOF_DUCK,
    "docs_policy_winrate": WINRATE_DUCK,
    "docs_pref_margin_hist": MARGIN_HIST_DUCK,
    "docs_policy_bt_strengths": BT_STRENGTHS_DUCK,
    "docs_reward_ensemble_disagreement": ENSEMBLE_DUCK,
    "docs_pref_length_bias": LEN_BIAS_DUCK,
    "docs_margin_agreement_curve": CALIB_DUCK,
}
