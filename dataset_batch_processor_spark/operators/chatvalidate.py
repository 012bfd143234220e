"""SFT conversation-structure validation gate (round 11, VERDICT r10
missing #1).

The chat family (operators/chat.py) renders, masks, dedups, and packs
conversations but never *validates* them — real SFT ingest hits messy
JSONL on day one. This gate routes structurally-broken conversations
the way the reference's routing split handles incompatible images
(F4, operators/routing.py:22; reference modules/filter_crop.py routes
too-small/untileable files), with per-reason counts like
mm_scrub_routing.

Checked defect classes, first match wins (the cascade order is the
pinned contract):

1. ``no_system``       — conversation carries no system turn
2. ``multi_system``    — more than one system turn
3. ``role_break``      — two adjacent turns with the same role
   (detected with a per-doc ``lag()`` window — GENERAL alternation,
   not parity-vs-turn_id, so it also catches assistant-first logs)
4. ``empty_assistant`` — an assistant turn whose content is empty or
   whitespace-only
5. ``refusal_boilerplate`` — refusal-prefixed assistant turns make up
   >= 50% of the conversation's assistant turns (the "model said
   sorry to everything" transcript class an SFT mix must down-weight)
6. ``dangling_user_tail`` — the final turn is a user turn (a prompt
   with no response; training on it teaches nothing). This class is
   ORGANIC: fixture conversations with an odd turn count end on user.
7. ``ok``

Planted defects (the alignment.py / fertility plant convention —
every class must be *provably* catchable, so seeded doc_id subsets
get deterministic mutations after turn assembly; ``m = doc_id % 41``):

    m=1 -> turn 1's role flipped to 'user'        (role_break)
    m=2 -> turn 1's content emptied                (empty_assistant)
    m=9 -> turn 1's content whitespace-only        (empty_assistant)
    m=6 -> every assistant turn replaced by a refusal line
    m=3 -> n_sys = 0;  m=4 -> n_sys = 2           (system-turn count
           is a per-conversation ingest fact, modeled as a fixture
           column exactly like the chat family's implicit constant
           system turn)

Plants on one-turn conversations no-op (there is no turn 1) — the
detector only reports what the mutated conversation actually shows,
never the plant schedule.

Scale posture: one turns-chain pass (chat.py's shared CTEs), one
per-doc lag window (bounded by one conversation), one groupBy doc_id
— the same shuffle keys the gated chat family already pins; the
counts rollup adds a k-row aggregate. All-integer + categorical
output, so both queries hash-gate exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .chat import toks_duck, toks_spark, turns_duck, turns_spark

PLANT_MOD = 41
REFUSAL_LINE = "I cannot help with that request."
REFUSAL_PREFIXES = ("I cannot help", "I''m sorry")  # SQL-escaped
REFUSAL_DENSITY_PCT = 50


def _validate_ctes(engine: str, src: str = "documents") -> str:
    """Parameterized by source relation (the house CTE-chain
    convention — never retarget with .replace()): the streaming twin
    runs the SAME chain over a micro-batch view."""
    toks = toks_spark(src) if engine == "spark" else toks_duck(src)
    turns = turns_spark(src) if engine == "spark" else turns_duck(src)
    refusal_pred = " OR ".join(
        f"content LIKE '{p}%'" for p in REFUSAL_PREFIXES
    )
    return f"""{toks},
{turns},
pturns AS (
  SELECT doc_id, turn_id,
         CASE WHEN doc_id % {PLANT_MOD} = 1 AND turn_id = 1
              THEN 'user' ELSE role END AS role,
         CASE WHEN doc_id % {PLANT_MOD} = 2 AND turn_id = 1 THEN ''
              WHEN doc_id % {PLANT_MOD} = 9 AND turn_id = 1 THEN '   '
              WHEN doc_id % {PLANT_MOD} = 6 AND role = 'assistant'
              THEN '{REFUSAL_LINE}'
              ELSE content END AS content
  FROM turns
),
lagged AS (
  SELECT doc_id, turn_id, role, content,
         lag(role) OVER (PARTITION BY doc_id ORDER BY turn_id)
             AS prev_role
  FROM pturns
),
flags AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(CASE doc_id % {PLANT_MOD}
              WHEN 3 THEN 0 WHEN 4 THEN 2 ELSE 1 END AS INT) AS n_sys,
         CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END)
              AS BIGINT) AS n_role_breaks,
         CAST(sum(CASE WHEN role = 'assistant' AND trim(content) = ''
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_asst,
         CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_asst,
         CAST(sum(CASE WHEN role = 'assistant' AND ({refusal_pred})
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_refusal,
         max_by(role, turn_id) AS last_role
  FROM lagged
  GROUP BY doc_id
),
verdicts AS (
  SELECT doc_id, n_turns, n_sys,
         CASE WHEN n_sys = 0 THEN 'no_system'
              WHEN n_sys > 1 THEN 'multi_system'
              WHEN n_role_breaks > 0 THEN 'role_break'
              WHEN n_empty_asst > 0 THEN 'empty_assistant'
              WHEN n_asst > 0
                   AND n_refusal * 100 >= n_asst * {REFUSAL_DENSITY_PCT}
              THEN 'refusal_boilerplate'
              WHEN last_role = 'user' THEN 'dangling_user_tail'
              ELSE 'ok' END AS reason
  FROM flags
)"""


_DETAIL_TAIL = """
SELECT doc_id, n_turns, n_sys,
       CASE WHEN reason = 'ok' THEN 'keep' ELSE 'quarantine' END
           AS decision,
       reason
FROM verdicts
"""

_COUNTS_TAIL = """
SELECT CASE WHEN reason = 'ok' THEN 'keep' ELSE 'quarantine' END
           AS decision,
       reason,
       CAST(count(*) AS BIGINT) AS n_convs
FROM verdicts
GROUP BY 1, 2
"""

CHAT_VALIDATE_SPARK = f"WITH {_validate_ctes('spark')}{_DETAIL_TAIL}"
CHAT_VALIDATE_DUCK = f"WITH {_validate_ctes('duck')}{_DETAIL_TAIL}"
CHAT_VALIDATE_COUNTS_SPARK = f"WITH {_validate_ctes('spark')}{_COUNTS_TAIL}"
CHAT_VALIDATE_COUNTS_DUCK = f"WITH {_validate_ctes('duck')}{_COUNTS_TAIL}"


def validate_counts_sql(src: str) -> str:
    """The counts rollup over an arbitrary (doc_id, text) relation —
    the streaming twin's per-batch partial (streaming/convgate.py)."""
    return f"WITH {_validate_ctes('spark', src)}{_COUNTS_TAIL}"


def _run_mat(sql: str):
    # turns chain from the session-materialized table (round 15);
    # the streaming twin keeps the parameterized inline chain
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .chat import run_with_mat_turns

        return run_with_mat_turns(spark, sf_dir, sql)

    return q


QUERIES = {
    "docs_chat_validate": _run_mat(CHAT_VALIDATE_SPARK),
    "docs_chat_validate_counts": _run_mat(CHAT_VALIDATE_COUNTS_SPARK),
}
ORACLES = {
    "docs_chat_validate": CHAT_VALIDATE_DUCK,
    "docs_chat_validate_counts": CHAT_VALIDATE_COUNTS_DUCK,
}
