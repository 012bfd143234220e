"""Deterministic HyperLogLog distinct-count sketch (round 13).

The third classic sketch next to cms.py (Count-Min, frequencies) and
histsketch.py (fixed-bin quantiles): Flajolet et al. 2007 HLL for
DISTINCT counting — at 100 TB the "how many unique tokens / shingles
/ urls" question is answered by 256 registers per group, never by a
count(DISTINCT) shuffle of raw values. Spark's built-in
``approx_count_distinct`` is HLL++ but its register layout is not
reproducible in DuckDB, so (the cms.py argument) this implementation
pins every step to engine-portable integer ops and the driver hash
gate proves the WHOLE sketch — registers, estimate, and the
small-range switch — against an op-for-op oracle:

- value hash: 60-bit md5-prefix int (functions/text.py house rule);
- register j = h % 256; remainder w = h DIV 256;
- rho = index of w's lowest set bit, computed as
  ``length(bin(w & -w))`` — pure integer, no loops (P(rho=k)=2^-k);
- register value M_j = max(rho) — associative, so per-shard partials
  merge exactly (the CMS grid property; pinned by test);
- raw estimate = alpha_256 * m^2 / sum(2^-M_j), spelled with
  2^30-scaled integer inverses, a 256-register scaffold for
  never-hit registers, and an overflow-safe scaled multiply;
- SMALL-RANGE branch (the canonical Flajolet switch): when the raw
  estimate <= 5m/2 and empty registers remain, linear counting
  m*ln(m/V) applies — ln() is float and engine-divergent, so the 256
  possible ``ln(m/V)`` values are precomputed ONCE in Python as a
  ppm-integer VALUES relation (the rlvr comb-relation pattern) and
  joined, keeping the whole estimator integer-exact.

The gated query sketches TWO grains per source — tokens (small
cardinality at fixture scale -> exercises the linear-counting
branch) and 8-char shingles (large -> exercises the raw-HLL branch)
— and emits exact count, estimate, and signed err_ppm: a
self-validating sketch card whose hash gate proves both branches on
both engines.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from .. import catalog
from ..streaming.fixtures import batch_sql

HLL_M = 256           # registers (p = 8)
RHO_CAP = 53          # w == 0 sentinel (w has ~52 usable bits)
INV_SCALE = 1 << 30   # fixed-point scale for 2^-M_j
# alpha_256 = 0.7213 / (1 + 1.079/256), quantized to ppm once here so
# both engines inline the SAME integer constant
ALPHA_PPM = 718272
SHINGLE_W = 8

# ln(m/V) for V = 1..m, quantized to ppm ONCE here — the only
# transcendental in the estimator becomes a 256-row integer relation
_LN_ROWS = ", ".join(
    f"({v}, {round(math.log(HLL_M / v) * 1_000_000)})"
    for v in range(1, HLL_M + 1)
)


def _ln_cte(engine: str) -> str:
    if engine == "spark":
        return (f"lntab AS (SELECT col1 AS v, col2 AS ln_ppm FROM "
                f"(VALUES {_LN_ROWS}))")
    return (f"lntab AS (SELECT v, ln_ppm FROM (VALUES {_LN_ROWS})"
            f" t(v, ln_ppm))")


def _hll_sql(engine: str, table: str = "documents",
             regs_table: str | None = None,
             vals_table: str | None = None) -> str:
    if engine == "spark":
        div = "DIV"
        h = "CAST(conv(substr(md5(v), 1, 15), 16, 10) AS BIGINT)"
        tokx = ("SELECT source, 'token' AS grain,"
                f" explode(split(text, ' ')) AS v FROM {table}")
        shx = (f"SELECT source, 'shingle' AS grain,"
               f" substr(text, CAST(p AS INT), {SHINGLE_W}) AS v"
               f" FROM {table}"
               f" LATERAL VIEW explode(sequence(1,"
               f" greatest(length(text) - {SHINGLE_W} + 1, 1), 4)) t AS p"
               f" WHERE length(text) >= {SHINGLE_W}")
        binlen = "length(bin({x}))"
        shl = "shiftleft(CAST(1 AS BIGINT), m_j)"
        jgen = f"SELECT explode(sequence(0, {HLL_M - 1})) AS reg"
    else:
        div = "//"
        h = "CAST(concat('0x', substr(md5(v), 1, 15)) AS BIGINT)"
        tokx = ("SELECT source, 'token' AS grain,"
                f" unnest(string_split(text, ' ')) AS v FROM {table}")
        shx = (f"SELECT source, 'shingle' AS grain,"
               f" substr(text, CAST(p AS INT), {SHINGLE_W}) AS v"
               f" FROM {table},"
               f" LATERAL (SELECT unnest(generate_series(1,"
               f" greatest(len(text) - {SHINGLE_W} + 1, 1), 4)) AS p)"
               f" WHERE len(text) >= {SHINGLE_W}")
        binlen = "length(printf('%b', {x}))"
        shl = "(CAST(1 AS BIGINT) << m_j)"
        jgen = f"SELECT unnest(generate_series(0, {HLL_M - 1})) AS reg"
    rho = (
        f"CASE WHEN w = 0 THEN {RHO_CAP} ELSE "
        + binlen.format(x="w & (-w)")
        + " END"
    )
    # overflow-safe raw * ALPHA_PPM / 1e6 (raw can reach m*m*2^30)
    est_raw = (f"(raw {div} 1000000) * {ALPHA_PPM}"
               f" + ((raw % 1000000) * {ALPHA_PPM}) {div} 1000000")
    # round 15: the vals explode is referenced by THREE consumers
    # (register build, scaffold, exact audit) and Spark inlines CTEs
    # — ``vals_table`` lets the driver entry materialize the explode
    # once (persist view) and run the estimator over the scan
    # (optimization guide §2.3; the decontam _materialized_grams
    # pattern). The md5 value hash itself is output-semantic
    # (registers ARE md5-derived) and stays untouched.
    vals_body = f"""
  SELECT source, grain, v FROM ({tokx}) WHERE length(v) > 0
  UNION ALL
  SELECT source, grain, v FROM ({shx})"""
    if vals_table is not None:
        vals_body = f"\n  SELECT source, grain, v FROM {vals_table}"
    head = f"""
WITH vals AS ({vals_body}
),
hashed AS (
  SELECT source, grain,
         CAST(h % {HLL_M} AS INT) AS reg,
         CAST(h {div} {HLL_M} AS BIGINT) AS w
  FROM (SELECT source, grain, {h} AS h FROM vals)
),
regs AS (
  SELECT source, grain, reg, max({rho}) AS m_j
  FROM hashed GROUP BY source, grain, reg
)"""
    if regs_table is not None:
        # merged-register entry point (the streaming read path): keep
        # vals (exact-audit + scaffold source), swap the in-query
        # register build for the externally merged table — built from
        # the SAME template, no textual surgery (review r13 #2)
        head = f"""
WITH vals AS ({vals_body}
),
regs AS (SELECT source, grain, reg, m_j FROM {regs_table})"""
    return head + f""",
scaffold AS (
  SELECT s.source, s.grain, j.reg
  FROM (SELECT DISTINCT source, grain FROM vals) s
       CROSS JOIN ({jgen}) j
),
{_ln_cte(engine)},
inv AS (
  SELECT sc.source, sc.grain,
         sum(CASE WHEN r.m_j IS NULL THEN {INV_SCALE}
                  ELSE {INV_SCALE} {div} {shl} END) AS sum_inv,
         CAST(sum(CASE WHEN r.m_j IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero
  FROM scaffold sc LEFT JOIN regs r
    ON r.source = sc.source AND r.grain = sc.grain AND r.reg = sc.reg
  GROUP BY sc.source, sc.grain
),
est AS (
  SELECT source, grain, n_zero,
         CAST({HLL_M} AS BIGINT) * {HLL_M} * {INV_SCALE}
             {div} greatest(sum_inv, 1) AS raw
  FROM inv
),
final AS (
  SELECT e.source, e.grain, e.n_zero,
         CAST(CASE WHEN CAST({est_raw} AS BIGINT) <= {5 * HLL_M // 2}
                    AND e.n_zero > 0
                   THEN {HLL_M} * ln.ln_ppm {div} 1000000
                   ELSE CAST({est_raw} AS BIGINT) END AS BIGINT)
             AS hll_estimate
  FROM est e LEFT JOIN lntab ln ON ln.v = e.n_zero
),
exact AS (
  SELECT source, grain, CAST(count(DISTINCT v) AS BIGINT) AS n_exact
  FROM vals GROUP BY source, grain
)
SELECT x.source, x.grain, x.n_exact, f.hll_estimate,
       CAST((f.hll_estimate - x.n_exact) * 1000000
            {div} x.n_exact AS BIGINT) AS err_ppm
FROM exact x JOIN final f
  ON f.source = x.source AND f.grain = x.grain
ORDER BY x.source, x.grain
"""


HLL_SPARK = _hll_sql("spark")
HLL_DUCK = _hll_sql("duck")


def _q_hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 note: a persist-the-vals-once variant (via ``vals_table``)
    # was measured SLOWER at sf0.1 (2.13 -> 2.75 s): the explode is
    # pure codegen and re-running it 3x inlined beats writing 1.5M
    # rows to block storage and scanning them back. The parameter
    # stays for the streaming register path, the inline CTE stays
    # here.
    # fanout (guide §2.5): the vals explode + md5 chain is the scan
    # stage; the one-row-group input serialized it (3.19 -> 1.92 s at
    # sf0.1). The md5 value hash itself stays — output-semantic.
    catalog.fanout(
        catalog.load_table(spark, sf_dir, "documents")
    ).createOrReplaceTempView("documents")
    return spark.sql(HLL_SPARK)


# --------------------------------------------------- mergeable partial
# The streaming-twin-ready unit (the register MERGE property is
# pinned by test): per shard the (source, grain, reg, m_j) maxima;
# max merges associatively, so register tables from disjoint shards
# combine with one groupBy.max and the estimator runs on the merge.


def _regs_sql(engine: str, table: str) -> str:
    """Just the vals->hashed->regs chain head over ``table`` — built
    from the SAME template as the gated query (a table parameter, not
    a .replace() of the batch SQL — review r13 #2: textual surgery
    silently no-ops when the chain is reworded, and the register
    max-merge would mask the resulting full-corpus partials from the
    driver gate forever)."""
    full = _hll_sql(engine, table=table)
    return (full[: full.index(",\nscaffold AS")]
            + "\nSELECT source, grain, reg, m_j FROM regs")


def hll_partial(docs: DataFrame) -> DataFrame:
    """(source, grain, reg, m_j) register maxima for one batch."""
    return batch_sql(docs, lambda view: _regs_sql("spark", view))


QUERIES = {"docs_hll_distinct_tokens": _q_hll_distinct_tokens}
ORACLES = {"docs_hll_distinct_tokens": HLL_DUCK}
