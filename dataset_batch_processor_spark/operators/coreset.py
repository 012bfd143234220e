"""k-center greedy coreset selection (farthest-point diversity
sampling).

The classic 2-approximation to the k-center objective (Gonzalez
1985), used in data curation as the diversity-selection step: seed
with one point, then repeatedly take the point FARTHEST from the
selected set (max over points of min distance to any center). The
selection order and the per-step coverage radii are the operator's
output — downstream either keeps the K centers as a diverse subset
or uses radius decay to choose K.

Exactness (the _fx6 fixed-point pattern from similarity.py): each
component is quantized once — floor(x*1e6 + 0.5), no sums — and all
distances are SQUARED Euclidean on the integer lattice: integer
differences, integer squares, integer sums (≤ 4e12 * 64 dims, far
under 2^53). No sqrt, no float accumulation, no ties beyond
identical integers (broken by vec_id) — both engines agree bit for
bit, so the greedy trajectory is hash-gateable like the unrolled
Lloyd and BPE training loops.

Scale: each iteration is one distributed max-reduction over the
corpus (map-side combined) plus a broadcast of ONE 64-int center —
driver traffic is K rows total, corpus passes are K (the same
posture as k-means training; at 100 TB you run it on a uniform
sample, which preserves the 2-approximation guarantee up to
sampling error). The DuckDB oracle unrolls all K iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog

K_CENTERS = 8

_FX_EXPR = (
    "transform(embedding, x -> "
    "CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
)


def _d2_expr(center: list[int]):
    arr = "array({})".format(
        ", ".join(f"CAST({int(v)} AS BIGINT)" for v in center)
    )
    return F.expr(
        f"aggregate(zip_with(f, {arr}, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def kcenter_greedy(emb: DataFrame, k: int = K_CENTERS):
    """[(rank, vec_id, covered_d2), ...] — covered_d2 is the squared
    coverage radius at the moment of selection (0 for the seed)."""
    fx = emb.select("vec_id", F.expr(_FX_EXPR).alias("f")).persist()
    try:
        seed = fx.orderBy("vec_id").limit(1).collect()[0]
        sels = [(0, int(seed["vec_id"]), 0)]
        cur = fx.withColumn("mind2", _d2_expr(seed["f"]))
        for rank in range(1, k):
            top = cur.orderBy(F.desc("mind2"), F.asc("vec_id")).limit(
                1
            ).collect()[0]
            sels.append((rank, int(top["vec_id"]), int(top["mind2"])))
            cur = cur.withColumn(
                "mind2", F.least("mind2", _d2_expr(top["f"]))
            )
    finally:
        fx.unpersist()
    return sels


def _q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout (guide §2.5): 1.79 -> 1.39 s at sf0.1; sized by rows, so
    # each Arrow task keeps >= catalog.FANOUT_ROWS_PER_TASK rows
    emb = catalog.fanout(
        catalog.load_table(spark, sf_dir, "embeddings"),
        rows=catalog.table_rows(spark, sf_dir, "embeddings"),
    )
    sels = kcenter_greedy(emb, K_CENTERS)
    return spark.createDataFrame(
        sels, "sel_rank INT, vec_id BIGINT, covered_d2 BIGINT"
    ).orderBy("sel_rank")


def _kcenter_duck(k: int = K_CENTERS) -> str:
    d2 = (
        "list_sum(list_transform(generate_series(1, len(t.f)), i -> "
        "(t.f[i] - c.f[i]) * (t.f[i] - c.f[i])))"
    )
    parts = [
        """
fx AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
           AS f
  FROM embeddings
),
s0 AS MATERIALIZED (
  SELECT vec_id, f FROM fx ORDER BY vec_id LIMIT 1
),
d0 AS MATERIALIZED (
  SELECT t.vec_id, t.f,
         CAST(%s AS BIGINT) AS mind2
  FROM fx t CROSS JOIN s0 c
)""" % d2
    ]
    for i in range(1, k):
        parts.append(
            f"""
s{i} AS MATERIALIZED (
  SELECT vec_id, f, mind2 FROM d{i - 1}
  ORDER BY mind2 DESC, vec_id LIMIT 1
),
d{i} AS MATERIALIZED (
  SELECT t.vec_id, t.f,
         least(t.mind2, CAST({d2} AS BIGINT)) AS mind2
  FROM d{i - 1} t CROSS JOIN s{i} c
)"""
        )
    union = "\n  UNION ALL\n".join(
        ["  SELECT 0 AS sel_rank, vec_id, CAST(0 AS BIGINT) AS covered_d2"
         " FROM s0"]
        + [
            f"  SELECT {i} AS sel_rank, vec_id, CAST(mind2 AS BIGINT)"
            f" AS covered_d2 FROM s{i}"
            for i in range(1, k)
        ]
    )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT CAST(sel_rank AS INT) AS sel_rank, vec_id, covered_d2
FROM (
{union}
)
ORDER BY sel_rank
"""
    )


QUERIES = {"emb_kcenter_coreset": _q_kcenter_coreset}
ORACLES = {"emb_kcenter_coreset": _kcenter_duck()}
