"""Storage layout for scale: skew mitigation and Z-order cells.

At 100 TB the dominant costs are shuffles. When a groupBy/join key is
skewed (one hot key owns a double-digit percentage of rows),
**salting** prepends a deterministic salt to fan the hot key across
reducers, then merges partials. AQE's skew handling covers sort-merge
joins; explicit salting covers aggregations and the cases AQE can't
re-plan. The salts come from xxhash64, not rand(), so results stay
reproducible and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def salt_column(cols: list[Column], n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts): xxhash64 of the row's
    non-key columns — NOT rand(), so retries/speculative tasks agree."""
    return F.pmod(F.xxhash64(*cols), F.lit(n_salts)).cast("int")


def salted_aggregate(
    df: DataFrame,
    group_cols: list[str],
    agg_exprs: dict[str, str],
    salt_from: list[str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    Phase 1 groups by (key, salt) — the hot key fans out over
    ``n_salts`` reducers; phase 2 merges the partials on the key
    alone (tiny: n_salts rows per key). Supported merges: sum/count
    (re-summed), min, max — the decomposable aggregates.

    ``agg_exprs``: {output_col: "sum(col)" | "count(*)" | "min(col)"
    | "max(col)"}.
    """
    salted = df.withColumn(
        "_salt", salt_column([F.col(c) for c in salt_from], n_salts)
    )
    phase1_aggs = []
    phase2_aggs = []
    for out, expr in agg_exprs.items():
        fn, _, arg = expr.partition("(")
        arg = arg.rstrip(")")
        fn = fn.strip().lower()
        if fn not in ("sum", "count", "min", "max"):
            raise ValueError(f"non-decomposable aggregate: {expr}")
        col = F.count("*") if (fn == "count" and arg == "*") else getattr(F, fn)(arg)
        phase1_aggs.append(col.alias(f"_p_{out}"))
        merge = F.sum if fn in ("sum", "count") else getattr(F, fn)
        phase2_aggs.append(merge(f"_p_{out}").alias(out))
    return (
        salted.groupBy(*group_cols, "_salt")
        .agg(*phase1_aggs)
        .groupBy(*group_cols)
        .agg(*phase2_aggs)
    )


# ------------------------------------------------------ oracled query
# Proves the two-phase salted aggregation is RESULT-IDENTICAL to the
# plain groupBy under the driver's hash gate: decimal-exact partials
# re-merge losslessly, so fanning a hot key over 8 reducers changes
# the plan, never the answer. events.event_type is the skew stand-in
# (a handful of keys over many rows).


def _q_salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import catalog

    ev = catalog.load_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(25,6)")
    )
    out = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n_events": "count(*)",
            "sum_value": "sum(value_dec)",
            "max_value": "max(value_dec)",
        },
        salt_from=["event_id"],
        n_salts=8,
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("max_value").cast("double").alias("max_value"),
    ).orderBy("event_type")


SALTED_EVENT_STATS_DUCK = """
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value,
       CAST(max(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS max_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""

# Join-key skew audit: the "why is my join slow" report an operator
# runs BEFORE choosing between plain shuffle, broadcast, salting
# (salt_column above), or AQE skew-join. skew_factor = key_count *
# n_keys / total — 1.0 for a uniform key, k for a key holding k
# uniform keys' worth of rows. One map-side-combined aggregation +
# a k-row TakeOrderedAndProject; the two scalar stats broadcast.

SKEW_AUDIT_SQL = """
WITH per_key AS (
  SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_partkey
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(n) AS BIGINT) AS total
  FROM per_key
)
SELECT key, n,
       CAST(round(CAST(n AS DOUBLE) * n_keys / total, 6) AS DOUBLE)
         AS skew_factor
FROM per_key CROSS JOIN stats
ORDER BY n DESC, key
LIMIT 20
"""


def _q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import catalog

    catalog.load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(SKEW_AUDIT_SQL)


# End-to-end audit -> chooser -> salted-join exercise (VERDICT r6
# next#7): the chooser (choose_join_strategy below) was wired and
# unit-tested but no registered query drove the SALTED branch against
# the oracle. This one does, on the classic hot-tenant shape: a
# routing key where one "mega-tenant" owns half the fact rows while
# ~100 small tenants share the rest (tenant 0 <- partkeys with
# pk % 200 < 100; the mapping is the same at every SF because partkeys
# are dense from 0). join_skew_report measures max_skew_factor ~ 50,
# the dim (~101 rows) exceeds the scaled-down broadcast budget, so the
# chooser picks 'salted' FROM THE REPORT — asserted, so a data drift
# that silently changed branches would fail loudly rather than gate
# the wrong plan. Salting must be answer-invisible: the DuckDB oracle
# is the plain join.

_TENANT = "CASE WHEN {k} % 200 < 100 THEN 0 ELSE {k} % 200 END"


def _q_hot_tenant_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import catalog

    li = catalog.load_table(spark, sf_dir, "lineitem")
    part = catalog.load_table(spark, sf_dir, "part")
    probe = li.select(
        F.expr(_TENANT.format(k="l_partkey")).cast("bigint").alias("tenant"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    dim = part.groupBy(
        F.expr(_TENANT.format(k="p_partkey")).cast("bigint").alias("tenant")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    report = join_skew_report(probe, "tenant", dim)
    # broadcast budget scaled to the fixture the way the 1M default is
    # scaled to a production executor: the ~101-row dim must not fit
    strategy = choose_join_strategy(report, broadcast_max_rows=64)
    if strategy != "salted":
        raise AssertionError(
            f"hot-tenant fixture no longer skewed enough: chooser "
            f"picked {strategy!r} from {report}"
        )
    joined = apply_join_strategy(probe, dim, "tenant", strategy, n_salts=16)
    return (
        joined.groupBy("tenant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("li_rows"),
            F.sum("qty").cast("bigint").alias("sum_qty"),
            F.max("n_parts").alias("n_parts"),
        )
        .orderBy("tenant")
    )


HOT_TENANT_SALTED_DUCK = f"""
WITH probe AS (
  SELECT CAST({_TENANT.format(k="l_partkey")} AS BIGINT) AS tenant,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
),
dim AS (
  SELECT CAST({_TENANT.format(k="p_partkey")} AS BIGINT) AS tenant,
         CAST(count(*) AS BIGINT) AS n_parts
  FROM part GROUP BY 1
)
SELECT p.tenant,
       CAST(count(*) AS BIGINT) AS li_rows,
       CAST(sum(p.qty) AS BIGINT) AS sum_qty,
       max(d.n_parts) AS n_parts
FROM probe p JOIN dim d ON d.tenant = p.tenant
GROUP BY p.tenant
ORDER BY p.tenant
"""


QUERIES = {
    "salted_event_stats": _q_salted_event_stats,
    "lineitem_skew_audit": _q_skew_audit,
    "lineitem_hot_tenant_salted_join": _q_hot_tenant_salted_join,
}
ORACLES = {
    "salted_event_stats": SALTED_EVENT_STATS_DUCK,
    "lineitem_skew_audit": SKEW_AUDIT_SQL,
    "lineitem_hot_tenant_salted_join": HOT_TENANT_SALTED_DUCK,
}


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    salt_from: list[str] | None = None,
) -> DataFrame:
    """Skew-mitigated equi-join: the SKEWED side gets a deterministic
    salt (xxhash64 of its non-key columns), the small side is
    replicated ``n_salts`` times, and the join runs on (key, salt) —
    the hot key's rows spread over n_salts reducers instead of one.

    Use when AQE's skew-join can't help (e.g. the skewed side feeds a
    chain AQE won't re-plan, or a broadcast is too large). The small
    side is replicated n_salts×, so keep it the dimension side.

    Choosing n_salts: ceil(max_key_rows / target_partition_rows),
    both available from the same ``join_skew_report`` that picks the
    strategy — the smallest count that levels the hot reducer to the
    mean partition. The round-8 sweep (SCALE.md) measured wall flat
    from 1..64 salts at the fixture's skew factor 50, so over-salting
    costs only dim-side replication; the default 16 levels the
    fixture's hot key exactly to the mean partition on local[32].
    """
    cols = salt_from or [c for c in skewed.columns if c != key]
    left = skewed.withColumn(
        "_salt", salt_column([F.col(c) for c in cols], n_salts)
    )
    from pyspark.sql import functions as _F

    right = small.crossJoin(
        _F.broadcast(
            skewed.sparkSession.range(n_salts).select(
                _F.col("id").cast("int").alias("_salt")
            )
        )
    )
    joined = left.join(right, [key, "_salt"])
    return joined.drop("_salt")


# --------------------------------------- audit → mitigation wiring
# The skew audit (SKEW_AUDIT_SQL / lineitem_skew_audit) produces the
# report; these two functions CONSUME it: summarize the audited key
# distribution plus the build side's size into a report dict, pick
# the join strategy, and apply it. This closes the loop the audit
# opened — "why is my join slow" becomes "run the audit, act on it".


def join_skew_report(
    probe: DataFrame, key: str, build: DataFrame | None = None
) -> dict:
    """Summarize ``probe``'s key distribution (and the build side's
    row count) for ``choose_join_strategy``. Costs one map-side-
    combined aggregation over the probe side plus an optional count
    of the build side — both cheap relative to a mis-planned join."""
    row = (
        probe.groupBy(F.col(key).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n").alias("total"),
            F.max("n").alias("max_n"),
        )
        .collect()[0]
    )
    max_skew = (
        float(row["max_n"]) * row["n_keys"] / row["total"]
        if row["total"]
        else 1.0
    )
    return {
        "n_keys": row["n_keys"],
        "total": row["total"],
        "max_key_rows": row["max_n"],
        "max_skew_factor": max_skew,
        "build_rows": build.count() if build is not None else None,
    }


def choose_join_strategy(
    report: dict,
    *,
    broadcast_max_rows: int = 1_000_000,
    salt_threshold: float = 32.0,
    aqe_threshold: float = 4.0,
) -> str:
    """Pick ``broadcast`` | ``salted`` | ``aqe`` | ``plain`` from a
    ``join_skew_report`` dict (driver-side pure logic — unit-testable
    without a session).

    Order of preference mirrors the cost model:
    - **broadcast** whenever the build side fits the driver/executor
      budget: no shuffle at all, so probe-side skew is irrelevant.
    - **salted** for heavy skew (one key holding ``salt_threshold``
      uniform keys' worth of rows): AQE can split oversized sort-merge
      partitions but not the single hash-agg/stream task a hot key
      pins, and past ~32x one straggler dominates the stage wall.
    - **aqe** for moderate skew with a too-big build side: leave the
      plan alone and let adaptive skew-join split oversized partitions
      at runtime (needs spark.sql.adaptive.skewJoin.enabled).
    - **plain** otherwise — any mitigation would cost more than the
      skew it removes."""
    build_rows = report.get("build_rows")
    if build_rows is not None and build_rows <= broadcast_max_rows:
        return "broadcast"
    skew = report.get("max_skew_factor", 1.0)
    if skew >= salt_threshold:
        return "salted"
    if skew >= aqe_threshold:
        return "aqe"
    return "plain"


def apply_join_strategy(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    strategy: str,
    n_salts: int = 16,
) -> DataFrame:
    """Execute the equi-join the way ``choose_join_strategy`` picked.
    ``aqe`` is a plain join by design: the mitigation lives in AQE's
    runtime re-plan, not the logical plan."""
    if strategy == "broadcast":
        return probe.join(F.broadcast(build), key)
    if strategy == "salted":
        return salted_join(probe, build, key, n_salts=n_salts)
    if strategy in ("aqe", "plain"):
        return probe.join(build, key)
    raise ValueError(f"unknown join strategy: {strategy!r}")


# ------------------------------------------------- z-order clustering
# The multi-column layout lever: a single-column range sort gives
# perfect pruning on ONE predicate column and none on any other
# (every file spans the full range of the unsorted dims). Interleaving
# the bits of several columns' bucket ranks (Morton / Z-order, the
# public technique behind Delta/Iceberg OPTIMIZE ZORDER) gives every
# file a tight bounding BOX over all participating columns, so
# parquet footer stats prune multi-dimensional predicates. Bucketing
# is min/max-normalized fixed-grid (2^bits per dim) — one 1-row
# bounds aggregate, then pure arithmetic, so the cell assignment is
# SQL-expressible and sits under the driver hash gate
# (events_zorder_cells).

ZBITS = 4  # 16 buckets/dim -> 256 cells for the oracle fixture


def _zcell_arith(
    ucol: str, vcol: str, bits: int,
    umin: str, umax: str, vmin: str, vmax: str,
) -> str:
    """Portable SQL text (Spark + DuckDB) for the interleaved cell id;
    the bound args are SQL expressions (a bounds-CTE column or an
    inlined literal).

    Buckets: least(2^bits-1, floor((x - xmin) / ((xmax - xmin) /
    2^bits))) with a degenerate-range guard — IEEE double ops, bit-
    identical across engines. Interleave via floor-div/mod arithmetic
    (no engine-specific bit operators)."""
    n = 1 << bits

    def bucket(col, lo, hi):
        return (
            f"CASE WHEN {hi} = {lo} THEN 0 ELSE "
            f"least({n - 1}, CAST(floor((CAST({col} AS DOUBLE) - {lo}) / "
            f"(({hi} - {lo}) / {n}.0)) AS BIGINT)) END"
        )

    ub = bucket(ucol, umin, umax)
    vb = bucket(vcol, vmin, vmax)
    terms = []
    for b in range(bits):
        p = 1 << b
        terms.append(f"(CAST(floor(({ub}) / {p}) AS BIGINT) % 2) * {1 << (2 * b)}")
        terms.append(f"(CAST(floor(({vb}) / {p}) AS BIGINT) % 2) * {1 << (2 * b + 1)}")
    return " + ".join(terms)


ZORDER_CELLS_SQL = f"""
WITH bounds AS (
  SELECT CAST(min(user_id) AS DOUBLE) AS umin,
         CAST(max(user_id) AS DOUBLE) AS umax,
         CAST(min(value) AS DOUBLE) AS vmin,
         CAST(max(value) AS DOUBLE) AS vmax
  FROM events
)
SELECT {_zcell_arith('e.user_id', 'e.value', ZBITS,
                    'bounds.umin', 'bounds.umax',
                    'bounds.vmin', 'bounds.vmax')} AS zcell,
       count(*) AS n_events,
       CAST(min(e.user_id) AS BIGINT) AS umin,
       CAST(max(e.user_id) AS BIGINT) AS umax,
       CAST(round(min(e.value), 6) AS DOUBLE) AS vmin,
       CAST(round(max(e.value), 6) AS DOUBLE) AS vmax
FROM events e CROSS JOIN bounds
GROUP BY 1
"""


def _q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import catalog

    catalog.load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(ZORDER_CELLS_SQL)


QUERIES["events_zorder_cells"] = _q_zorder_cells
ORACLES["events_zorder_cells"] = ZORDER_CELLS_SQL
