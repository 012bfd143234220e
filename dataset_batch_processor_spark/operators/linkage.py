"""Fuzzy record linkage: blocked edit-distance entity matching.

The curation-adjacent capability the dedup family doesn't cover:
near-identical RECORDS (names, titles, product strings) rather than
near-identical documents. Standard two-phase shape:

1. **Block** on a cheap deterministic key (here: the first token of
   the name) so the candidate space is Σ block² instead of n² — the
   exact same contract as LSH banding and label-blocked kNN.
2. **Verify** candidates with edit distance (integer-exact in both
   engines), keep pairs within the threshold.

At 10^9 records blocking is the whole game: the self-join shuffles on
the block key only, hot blocks land in AQE skew splitting, and the
verify cost is linear in candidates. Multi-pass blocking (first
token, then metaphone/sorted-ngram keys) reuses the same query with a
different key expression.

Determinism: levenshtein is integer; ties don't exist; pair order is
pinned by part_a < part_b.
"""

from __future__ import annotations

from .sqlrun import _run

MAX_DIST = 2

# The TPC-H name generator draws 5 words from a ~92-word vocabulary,
# so near-identical records are ENDEMIC (millions of within-threshold
# pairs at sf0.1) — exactly the shape a real CRM/product catalog has.
# The driver query therefore reports the per-block LINKAGE SUMMARY
# (records, matches, match rate) instead of the quadratic pair dump;
# the pair-level output is the same join without the final GROUP BY.


def _fuzzy_sql(dialect: str) -> str:
    first_tok = (
        "element_at(split(p_name, ' '), 1)"
        if dialect == "spark"
        else "string_split(p_name, ' ')[1]"
    )
    return f"""
WITH recs AS (
  SELECT p_partkey, p_name, {first_tok} AS blk FROM part
),
sizes AS (
  SELECT blk, count(*) AS n_records FROM recs GROUP BY blk
),
matches AS (
  SELECT a.blk, count(*) AS n_matches
  FROM recs a JOIN recs b
    ON a.blk = b.blk AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= {MAX_DIST}
  GROUP BY a.blk
)
SELECT s.blk,
       CAST(s.n_records AS BIGINT) AS n_records,
       CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
       CAST(CASE WHEN s.n_records < 2 THEN 0.0
            ELSE round(CAST(coalesce(m.n_matches, 0) AS DOUBLE) * 2.0
                       / (CAST(s.n_records AS DOUBLE)
                          * (CAST(s.n_records AS DOUBLE) - 1.0)), 6)
            END AS DOUBLE) AS match_rate
FROM sizes s LEFT JOIN matches m ON s.blk = m.blk
ORDER BY s.blk
"""


QUERIES = {"parts_fuzzy_match_stats": _run(_fuzzy_sql("spark"), ("part",))}
ORACLES = {"parts_fuzzy_match_stats": _fuzzy_sql("duck")}
