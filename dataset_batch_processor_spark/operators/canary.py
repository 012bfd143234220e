"""Canary planting and exposure measurement — the data-governance
probe a training-data pipeline runs to quantify memorization risk.

Public anchors: Carlini et al. 2019 "The Secret Sharer" (plant unique
canaries, measure exposure), Carlini et al. 2021 (extraction attacks
recover verbatim training strings). The pipeline-side halves are both
data operations: PLANT unique markers into a known corpus slice, then
SCAN generated samples for them. Here the "generated samples" are the
RLVR rollout fixture's seeded windows (operators/rlvr.py) taken over
the PLANTED text — a deterministic stand-in for model samples with a
known ground-truth leak mechanism: a rollout leaks its document's
canary iff its window overlaps the append site, so exposure is
exactly replayable and the gate is hash-exact.

Deterministic instantiation:

- docs with ``doc_id % CANARY_MOD == CANARY_RESIDUE`` get
  ``' CANARY-' + md5(doc_id || ':canary')[:12]`` appended — globally
  unique per doc, engine-identical;
- rollouts reuse the rlvr window geometry (same RESP_CHARS) with the
  independent ``:x`` seed family over the planted text;
- a rollout LEAKS iff it contains the full canary (plain ``instr`` —
  the marker is hex, no token-boundary subtlety);
- exposure_ppm = leaking rollouts per planted rollout, in ppm.

Scale posture: planting is a per-row projection; the scan is the
bounded ×N window fan-out plus a doc_id equi-join of two corpus-
colocated sides. Nothing shuffles wider than doc_id; the rollup is a
single map-side-combined aggregate.
"""

from __future__ import annotations

from .rlvr import N_ROLLOUTS, RESP_CHARS
from .sqlrun import _run

CANARY_MOD = 10
CANARY_RESIDUE = 4


def _hx(engine: str) -> str:
    """28-bit md5 int seeded by (doc_id, rollout), ':x' family."""
    if engine == "spark":
        return ("CAST(conv(substr(md5(concat(p.doc_id, ':x', r)), 1, 7),"
                " 16, 10) AS BIGINT)")
    return ("CAST(concat('0x', substr(md5(concat(p.doc_id, ':x', r)), 1, 7))"
            " AS BIGINT)")


def _chain(engine: str, table: str = "documents") -> str:
    if engine == "spark":
        rgen = f"LATERAL VIEW explode(sequence(0, {N_ROLLOUTS - 1})) t AS r"
    else:
        rgen = (f", LATERAL (SELECT unnest(generate_series(0,"
                f" {N_ROLLOUTS - 1})) AS r)")
    return f"""planted AS (
  SELECT doc_id,
         doc_id % {CANARY_MOD} = {CANARY_RESIDUE} AS is_planted,
         'CANARY-' || substr(md5(concat(doc_id, ':canary')), 1, 12)
             AS canary,
         CASE WHEN doc_id % {CANARY_MOD} = {CANARY_RESIDUE}
              THEN text || ' CANARY-'
                   || substr(md5(concat(doc_id, ':canary')), 1, 12)
              ELSE text END AS ptext
  FROM {table}
),
rolls AS (
  SELECT p.doc_id, CAST(r AS INT) AS r, p.is_planted, p.canary,
         substr(p.ptext,
                CAST(1 + ({_hx(engine)}
                     % greatest(length(p.ptext) - {RESP_CHARS - 1}, 1))
                     AS INT),
                {RESP_CHARS}) AS resp
  FROM planted p
  {rgen}
),
leaks AS (
  SELECT doc_id, r, is_planted,
         CASE WHEN is_planted AND instr(resp, canary) > 0
              THEN 1 ELSE 0 END AS leaked
  FROM rolls
)"""


# ------------------------------------------------------ plant manifest
# The governance artifact: which docs carry which canary, and the
# hash of the planted text (what a retraining run must reproduce).

_PLANT_TAIL = """
SELECT doc_id, canary, md5(ptext) AS planted_md5,
       CAST(length(ptext) AS BIGINT) AS planted_chars
FROM planted WHERE is_planted
"""

# ----------------------------------------------- per-doc exposure scan

_EXPOSURE_TAIL = f"""
SELECT doc_id,
       CAST(sum(leaked) AS INT) AS n_leaking_rollouts,
       sum(leaked) > 0 AS leaked,
       CAST(sum(leaked) * 1000000 {{div}} {N_ROLLOUTS} AS BIGINT)
           AS leak_ppm
FROM leaks WHERE is_planted
GROUP BY doc_id
"""

# --------------------------------------------------- corpus leak card

_CARD_TAIL = f"""
, per_doc AS (
  SELECT doc_id, sum(leaked) AS n_leak
  FROM leaks WHERE is_planted GROUP BY doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_planted,
       CAST(sum(CASE WHEN n_leak > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_docs_leaked,
       CAST(sum(n_leak) AS BIGINT) AS n_leak_rollouts,
       CAST(sum(n_leak) * 1000000 {{div}} (count(*) * {N_ROLLOUTS})
            AS BIGINT) AS exposure_ppm
FROM per_doc
"""


def _sql(engine: str, tail: str, table: str = "documents") -> str:
    div = "DIV" if engine == "spark" else "//"
    return f"WITH {_chain(engine, table)}" + tail.format(div=div)


PLANT_SPARK = _sql("spark", _PLANT_TAIL)
PLANT_DUCK = _sql("duck", _PLANT_TAIL)
EXPOSURE_SPARK = _sql("spark", _EXPOSURE_TAIL)
EXPOSURE_DUCK = _sql("duck", _EXPOSURE_TAIL)
CARD_SPARK = _sql("spark", _CARD_TAIL)
CARD_DUCK = _sql("duck", _CARD_TAIL)

QUERIES = {
    "docs_canary_plant": _run(PLANT_SPARK, ("documents",)),
    "docs_canary_exposure": _run(EXPOSURE_SPARK, ("documents",)),
    "docs_canary_leak_card": _run(CARD_SPARK, ("documents",)),
}
ORACLES = {
    "docs_canary_plant": PLANT_DUCK,
    "docs_canary_exposure": EXPOSURE_DUCK,
    "docs_canary_leak_card": CARD_DUCK,
}
