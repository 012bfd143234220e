"""RLVR (verifiable-reward) data operators: rollout grading, unbiased
pass@k estimation, GRPO group advantages, verifier-DPO pair
distillation, and the difficulty-curriculum card.

The post-RLHF frontier of training-data work grades ROLLOUTS against a
programmatic verifier instead of a learned reward model (public
anchors: Chen et al. 2021 "Evaluating Large Language Models Trained on
Code" — the unbiased pass@k estimator; Shao et al. 2024 "DeepSeekMath"
— GRPO's group-relative advantage; DeepSeek-R1 2025 — rule-based
verifiable rewards and the 0%/100%-pass filtering of no-signal tasks).
No reference counterpart (the reference is image-caption only); this
extends the preference.py RLHF family one step to verifiable rewards.

Deterministic instantiation (the preference.py seeding pattern):

- a TASK is a document; rollout r of N_ROLLOUTS is a seeded
  ``RESP_CHARS``-char window into it (md5-derived offset, seed
  ``doc_id:v{r}`` — distinct from preference.py's ``:c{k}`` family so
  the two fixtures never alias);
- the VERIFIER's reference answer for a task is the document's MODAL
  token (most frequent whitespace token, ties to the lexicographically
  smallest — one doc-keyed rank, exact in both engines);
- a rollout is CORRECT iff it contains the reference answer as a
  whole whitespace-delimited token (``instr`` on space-padded strings
  — no LIKE, so answer text can never inject wildcards).

Everything downstream is integer-exact:

- **pass@1** per task is ``n_correct * 10^6 DIV n`` (ppm);
- **pass@k** uses the Chen et al. unbiased estimator
  ``1 - C(n-c, k) / C(n, k)`` with the binomial table emitted as a
  36-row VALUES relation (n = 8 fixed, k in {1, 2, 4, 8}), so the
  estimate is a pure integer ratio in ppm — no floats, no log-gamma;
- **GRPO advantage** per rollout is ``correct*10^6 - pass1_ppm``
  (the group-mean-centered reward, ppm), emitted only for tasks with
  0 < c < n — the signal-bearing groups R1-style filtering keeps.

Scale posture: the rollout explode is a bounded ×N fan-out of a
RESP_CHARS window (never the full document); the modal-token table is
one token explode + a (doc, token) map-side-combined count + one
doc-keyed window; grading is a doc_id equi-join; pass@k joins a
constant 36-row table. Nothing shuffles wider than (doc_id, token),
and the comb relation broadcasts.
"""

from __future__ import annotations

from math import comb

from pyspark.sql import DataFrame, SparkSession

from .. import catalog
from .sqlrun import _run

N_ROLLOUTS = 8
RESP_CHARS = 40
PASS_KS = (1, 2, 4, 8)


def _hr(engine: str) -> str:
    """28-bit md5 int seeded by (doc_id, rollout)."""
    if engine == "spark":
        return ("CAST(conv(substr(md5(concat(doc_id, ':v', r)), 1, 7),"
                " 16, 10) AS BIGINT)")
    return ("CAST(concat('0x', substr(md5(concat(doc_id, ':v', r)), 1, 7))"
            " AS BIGINT)")


def _comb_rows() -> str:
    rows = []
    for m in range(N_ROLLOUTS + 1):
        for k in PASS_KS:
            rows.append(f"({m}, {k}, {comb(m, k)})")
    return ", ".join(rows)


def _comb_cte(engine: str) -> str:
    if engine == "spark":
        return (f"comb AS (SELECT m, k, c FROM VALUES {_comb_rows()}"
                " AS t(m, k, c))")
    return f"comb(m, k, c) AS (VALUES {_comb_rows()})"


def _chain(engine: str, table: str = "documents") -> str:
    """rolls -> ref -> graded -> task: shared by every rlvr query.
    ``table`` lets the streaming twin run the same chain over a
    micro-batch view."""
    if engine == "spark":
        rgen = f"LATERAL VIEW explode(sequence(0, {N_ROLLOUTS - 1})) t AS r"
        tok_x = "LATERAL VIEW explode(split(text, ' ')) t2 AS token"
    else:
        rgen = (f", LATERAL (SELECT unnest(generate_series(0,"
                f" {N_ROLLOUTS - 1})) AS r)")
        tok_x = ", LATERAL (SELECT unnest(string_split(text, ' ')) AS token)"
    return f"""rolls AS (
  SELECT doc_id, CAST(r AS INT) AS r,
         substr(text,
                CAST(1 + ({_hr(engine)}
                     % greatest(length(text) - {RESP_CHARS - 1}, 1)) AS INT),
                {RESP_CHARS}) AS resp
  FROM {table}
  {rgen}
),
tokc AS (
  SELECT doc_id, token, count(*) AS n
  FROM {table}
  {tok_x}
  WHERE length(token) > 0
  GROUP BY doc_id, token
),
ref AS (
  SELECT doc_id, token AS answer
  FROM (
    SELECT doc_id, token,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY n DESC, token ASC) AS rn
    FROM tokc
  )
  WHERE rn = 1
),
graded AS (
  SELECT ro.doc_id, ro.r, ro.resp,
         CASE WHEN instr(' ' || ro.resp || ' ',
                         ' ' || rf.answer || ' ') > 0
              THEN 1 ELSE 0 END AS correct
  FROM rolls ro JOIN ref rf ON ro.doc_id = rf.doc_id
),
task AS (
  SELECT doc_id,
         CAST(count(*) AS INT) AS n_rolls,
         CAST(sum(correct) AS INT) AS n_correct,
         CAST(count(DISTINCT md5(resp)) AS INT) AS n_distinct_rolls
  FROM graded GROUP BY doc_id
)"""


# --------------------------------------------------- per-task grading
# The RLVR curation view: per task the verifier verdict counts, the
# distinct-rollout count (duplicate rollouts carry no extra GRPO
# signal), and the has_signal flag R1-style filtering keys on.

_GRADE_TAIL = """
SELECT t.doc_id, t.n_rolls AS n_rollouts, t.n_correct,
       t.n_distinct_rolls AS n_distinct_rollouts,
       CAST(t.n_correct * 1000000 {div} t.n_rolls AS BIGINT) AS pass1_ppm,
       t.n_correct > 0 AND t.n_correct < t.n_rolls AS has_signal,
       md5(rf.answer) AS answer_md5
FROM task t JOIN ref rf ON t.doc_id = rf.doc_id
"""

# ------------------------------------------------ unbiased pass@k
# Corpus rollup of the Chen et al. estimator: per task
# 1 - C(n-c,k)/C(n,k), averaged over tasks, all in integer ppm. The
# per-task ppm truncation happens IDENTICALLY in both engines so the
# mean is exact.

_PASSK_TAIL = """
, sel AS (
  SELECT t.doc_id, cb.k,
         1000000 - (cb.c * 1000000 {div} cn.c) AS task_ppm
  FROM task t
       JOIN comb cb ON cb.m = t.n_rolls - t.n_correct
       JOIN comb cn ON cn.m = t.n_rolls AND cn.k = cb.k
)
SELECT CAST(k AS INT) AS k,
       CAST(count(*) AS BIGINT) AS n_tasks,
       CAST(sum(task_ppm) {div} count(*) AS BIGINT) AS pass_at_k_ppm
FROM sel GROUP BY k
"""

# ------------------------------------------- GRPO group advantages
# Per-rollout group-relative advantage on signal-bearing tasks only:
# adv = r_i - mean(r) with rewards in {0, 1}, scaled to ppm. Tasks
# where every rollout agrees (c = 0 or c = n) contribute zero gradient
# and are dropped — the DeepSeek-R1 effective-batch rule.

_GRPO_TAIL = """
SELECT g.doc_id, CAST(g.r AS INT) AS rollout,
       CAST(g.correct AS INT) AS correct,
       CAST(g.correct * 1000000
            - (t.n_correct * 1000000 {div} t.n_rolls) AS BIGINT) AS adv_ppm
FROM graded g JOIN task t ON g.doc_id = t.doc_id
WHERE t.n_correct > 0 AND t.n_correct < t.n_rolls
"""


# ----------------------------------- verifier-DPO pair distillation
# RLVR rollouts double as preference data: per signal-bearing task,
# (chosen = a correct rollout, rejected = an incorrect one) is a DPO
# row whose label comes from the VERIFIER, not a reward model — the
# rejection-sampling-to-DPO distillation loop (public anchors:
# Rafailov et al. 2023 row shape; Yuan et al. 2024 "Self-Rewarding"
# /iterated DPO variants that harvest pairs from graded samples).
# Deterministic pick: the smallest rollout index on each side (the
# preference.py k-asc tie convention); only 0 < c < n tasks emit a
# row (both sides must exist).

_DPO_TAIL = """
, sides AS (
  SELECT g.doc_id,
         min(CASE WHEN g.correct = 1 THEN g.r END) AS chosen_r,
         min(CASE WHEN g.correct = 0 THEN g.r END) AS rejected_r
  FROM graded g JOIN task t ON g.doc_id = t.doc_id
  WHERE t.n_correct > 0 AND t.n_correct < t.n_rolls
  GROUP BY g.doc_id
)
SELECT s.doc_id,
       CAST(s.chosen_r AS INT) AS chosen_r,
       CAST(s.rejected_r AS INT) AS rejected_r,
       md5(gc.resp) AS chosen_md5,
       md5(gr.resp) AS rejected_md5
FROM sides s
     JOIN graded gc ON gc.doc_id = s.doc_id AND gc.r = s.chosen_r
     JOIN graded gr ON gr.doc_id = s.doc_id AND gr.r = s.rejected_r
"""


def _sql(
    engine: str, tail: str, with_comb: bool = False,
    table: str = "documents",
) -> str:
    div = "DIV" if engine == "spark" else "//"
    ctes = _chain(engine, table)
    if with_comb:
        ctes = ctes + ",\n" + _comb_cte(engine)
    return f"WITH {ctes}" + tail.format(div=div)


# ------------------------------------- difficulty curriculum card
# RLVR training orders tasks easy-to-hard (staged difficulty is the
# standard curriculum for verifiable-reward RL: Bengio et al. 2009
# curriculum learning; R1-style pipelines stage by solve rate). Phase
# p holds ranks [p*n/P, (p+1)*n/P) under (difficulty ASC, doc_id)
# with difficulty = n - n_correct, so phase 0 is the easiest quarter
# and phase P-1 the hardest. Ranks ride the W1 prefix sum on the
# Spark side (the curriculum.py pattern); the oracle keeps the
# one-level row_number spelling — the gate proves the distributed
# ranking reproduces the sequential order.

N_CURR_PHASES = 4

_CURR_CARD_TAIL = """
SELECT CAST(phase AS INT) AS phase,
       CAST(count(*) AS BIGINT) AS n_tasks,
       CAST(min(n_correct) AS INT) AS min_correct,
       CAST(max(n_correct) AS INT) AS max_correct,
       CAST(sum(CASE WHEN n_correct > 0 AND n_correct < n_rolls
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_signal
FROM phased
GROUP BY phase
"""

CURR_DUCK = (
    f"WITH {_chain('duck')},\n"
    + f"""n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM task),
phased AS (
  SELECT t.doc_id, t.n_correct, t.n_rolls,
         (CAST(row_number() OVER (
              ORDER BY t.n_rolls - t.n_correct, t.doc_id) - 1 AS BIGINT)
          * {N_CURR_PHASES}) // n.c AS phase
  FROM task t CROSS JOIN n
){_CURR_CARD_TAIL}"""
)


def _q_rlvr_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .textops import exclusive_prefix_sum

    catalog.load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    task = spark.sql(
        f"WITH {_chain('spark')} SELECT doc_id, n_correct, n_rolls,"
        " n_rolls - n_correct AS difficulty FROM task"
    )
    ranked = exclusive_prefix_sum(
        task.withColumn("_one", F.lit(1)),
        ["difficulty", "doc_id"], "_one", "rnk",
    )
    total = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ranked.crossJoin(F.broadcast(total)).selectExpr(
        "doc_id", "n_correct", "n_rolls",
        f"(rnk * {N_CURR_PHASES}) DIV c AS phase",
    ).createOrReplaceTempView("phased")
    return spark.sql("WITH _x AS (SELECT 1)" + _CURR_CARD_TAIL)


GRADE_SPARK = _sql("spark", _GRADE_TAIL)
GRADE_DUCK = _sql("duck", _GRADE_TAIL)
PASSK_SPARK = _sql("spark", _PASSK_TAIL, with_comb=True)
PASSK_DUCK = _sql("duck", _PASSK_TAIL, with_comb=True)
GRPO_SPARK = _sql("spark", _GRPO_TAIL)
GRPO_DUCK = _sql("duck", _GRPO_TAIL)
DPO_SPARK = _sql("spark", _DPO_TAIL)
DPO_DUCK = _sql("duck", _DPO_TAIL)


# --------------------------------------- per-source pass-rate rollup
# The drift grain an RLVR ops loop monitors: per SOURCE the task
# count, the aggregate pass@1 (sum-correct over sum-rollouts — the
# micro-average, exact in ppm), and the signal-bearing task count.
# One doc_id equi-join to documents + a source-keyed combine.

_SRC_TAIL = """
, tsk2 AS (
  SELECT t.doc_id, t.n_correct, t.n_rolls, d.source
  FROM task t JOIN documents d ON t.doc_id = d.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tasks,
       CAST(sum(n_correct) * 1000000 {div} sum(n_rolls) AS BIGINT)
           AS pass1_ppm,
       CAST(sum(CASE WHEN n_correct > 0 AND n_correct < n_rolls
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_signal
FROM tsk2 GROUP BY source
"""

SRC_PASS_SPARK = _sql("spark", _SRC_TAIL)
SRC_PASS_DUCK = _sql("duck", _SRC_TAIL)


QUERIES = {
    "docs_verifier_grade": _run(GRADE_SPARK, ("documents",)),
    "docs_passk_estimate": _run(PASSK_SPARK, ("documents",)),
    "docs_grpo_advantage": _run(GRPO_SPARK, ("documents",)),
    "docs_verifier_dpo_pairs": _run(DPO_SPARK, ("documents",)),
    "docs_rlvr_curriculum": _q_rlvr_curriculum,
    "docs_rlvr_source_passrate": _run(SRC_PASS_SPARK, ("documents",)),
}
ORACLES = {
    "docs_verifier_grade": GRADE_DUCK,
    "docs_passk_estimate": PASSK_DUCK,
    "docs_grpo_advantage": GRPO_DUCK,
    "docs_verifier_dpo_pairs": DPO_DUCK,
    "docs_rlvr_curriculum": CURR_DUCK,
    "docs_rlvr_source_passrate": SRC_PASS_DUCK,
}


# ----------------------------------------------- rollout diversity
# Round 13: duplicate or near-duplicate rollouts carry no extra GRPO
# signal (the n_distinct_rolls column already counts EXACT dups); the
# sampling-health number an RLVR loop actually monitors is n-gram
# DIVERSITY across a task's rollout set (self-BLEU's complement —
# Zhu et al. 2018 texygen). Per task: total token bigrams across all
# rollouts, distinct bigrams, and their ratio in ppm. Low diversity =
# the sampler has collapsed on that task; the curriculum should stop
# paying 8 rollouts for it.
#
# Scale shape: the bigram windows are partitioned by (doc_id, r) —
# rollout-sized partitions (a 40-char window is <= ~10 tokens), never
# corpus-sized; the rollup is one map-side-combinable groupBy(doc_id).


def _diversity_sql(engine: str) -> str:
    div = "DIV" if engine == "spark" else "//"
    if engine == "spark":
        # r15: filter empties inside the array — kept positions come
        # straight from posexplode, no renumbering window/Exchange
        # (same rows as the oracle's row_number spelling)
        rtoks = """rtoks AS (
  SELECT doc_id, r, pos + 1 AS pos, token
  FROM rolls
  LATERAL VIEW posexplode(filter(split(resp, ' '),
                                 x -> length(x) > 0)) t AS pos, token
)"""
    else:
        src = ("SELECT doc_id, r, "
               "generate_subscripts(string_split(resp, ' '), 1) - 1 AS pos0,"
               " unnest(string_split(resp, ' ')) AS token FROM rolls")
        rtoks = f"""rtoks AS (
  SELECT doc_id, r,
         row_number() OVER (PARTITION BY doc_id, r ORDER BY pos0) AS pos,
         token
  FROM ({src}) WHERE length(token) > 0
)"""
    return f"""WITH {_chain(engine)},
{rtoks},
bi AS (
  SELECT doc_id,
         token || ' ' || lead(token) OVER (PARTITION BY doc_id, r
                                           ORDER BY pos) AS bigram
  FROM rtoks
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(count(DISTINCT bigram) AS BIGINT) AS n_distinct_bigrams,
       CAST(count(DISTINCT bigram) * 1000000 {div} count(*) AS BIGINT)
           AS diversity_ppm
FROM bi WHERE bigram IS NOT NULL
GROUP BY doc_id
"""


DIVERSITY_SPARK = _diversity_sql("spark")
DIVERSITY_DUCK = _diversity_sql("duck")

QUERIES["docs_rollout_diversity"] = _run(DIVERSITY_SPARK, ("documents",))
ORACLES["docs_rollout_diversity"] = DIVERSITY_DUCK
