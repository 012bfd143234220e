"""IVF-PQ: coarse inverted lists + product-quantized residuals.

The composition of the engine's IVF (similarity.py:610) and PQ
(pq.py) families, and the layout an actual billion-vector store
deploys (public formulation: Jégou et al., "Product Quantization for
Nearest Neighbor Search", §IV — IVFADC): a coarse quantizer routes
each vector to one of ~sqrt(n) cells, and only the RESIDUAL
(vector − cell centroid) is PQ-encoded. Residuals are small and
centered, so the same sub-codebook budget yields far lower
quantization error than PQ on raw vectors; queries probe n_probe
cells and score candidates with a per-(query, cell) ADC lookup table.

Scale topology at 10^9 vectors / 100 TB:
- **The index is two tables.** ``assign`` (vec_id, c_id) and ``codes``
  (vec_id, j, cid) — both bucketed on vec_id, built once. Per-cell
  code lists are what a production store range-partitions by c_id so
  a probe touches only n_probe/N of the data (the inverted-list
  property; here expressed as an equi-join on c_id, which Spark
  co-partitions).
- **Query cost is KB-sized.** Each query ships n_probe × M × K
  sub-distances (a few hundred rows) — the LUT broadcast — and the
  candidate set is only the probed cells' members, never the corpus.
- **No cross join anywhere** beyond broadcast-sized centroid/codebook
  tables; corpus-sized shuffles: the assign groupBy, the encode
  groupBy, and the final ADC aggregation. All three are the same
  shuffle class as plain PQ — IVF adds routing, not shuffle volume.

Determinism (driver hash gate): coarse assignment ranks fixed-point
BIGINT squared-L2 (element-SEQUENTIAL fold over the 64 dims, ×10^6,
round — identical in both engines; c_id tie-break). Residuals are
element-wise double subtraction — exact. Sub-distances reuse the PQ
fold (sequential over the 8 subspace dims, fixed-point). The ADC sum
is an integer sum over M terms (order-free), and the final ranking is
(integer distance, neighbor_id) — integer-exact end to end, the same
contract as ``emb_pq_topk``. Fixture codebooks: coarse = vec_id %
CENTROID_MOD == 0 (the IVF oracle's sampling); sub-codebook = first K
RESIDUALS of vec_id % SUB_SAMPLE_MOD == SUB_SAMPLE_REM in vec_id
order. Production swaps in k-means coarse centroids and trained
sub-codebooks exactly like ``ivf_train_centroids`` (not
SQL-expressible; recall is pytest-bounded via the recall report).
"""

from __future__ import annotations

from .pq import DIM, FX, K, M, SUB
from .similarity import CENTROID_MOD, QUERY_MOD, TOP_K

N_PROBE = 2
SUB_SAMPLE_MOD = 29
SUB_SAMPLE_REM = 1


def _ivfpq_sql(dialect: str) -> str:
    spark = dialect == "spark"
    if spark:
        full_d2 = (
            "CAST(round(aggregate(sequence(1, {dim}), 0D, (acc, i) -> "
            "acc + (CAST(element_at({a}, i) AS DOUBLE) "
            "- CAST(element_at({b}, i) AS DOUBLE)) "
            "* (CAST(element_at({a}, i) AS DOUBLE) "
            "- CAST(element_at({b}, i) AS DOUBLE))) "
            "* {fx}, 0) AS BIGINT)"
        )
        resid = (
            "transform(sequence(1, {dim}), i -> "
            "CAST(element_at({a}, i) AS DOUBLE) "
            "- CAST(element_at({b}, i) AS DOUBLE))"
        )
        # residual arrays are already DOUBLE — no per-element cast
        sub_d2 = (
            "CAST(round(aggregate(sequence(1, {sub}), 0D, (acc, i) -> "
            "acc + (element_at({a}, j * {sub} + i) "
            "- element_at({b}, j * {sub} + i)) "
            "* (element_at({a}, j * {sub} + i) "
            "- element_at({b}, j * {sub} + i))) "
            "* {fx}, 0) AS BIGINT)"
        )
        subspaces = "LATERAL VIEW explode(sequence(0, {m})) s AS j"
    else:
        full_d2 = (
            "CAST(round(list_sum(list_transform(generate_series(1, {dim}), "
            "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
            "* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))) "
            "* {fx}, 0) AS BIGINT)"
        )
        resid = (
            "list_transform(generate_series(1, {dim}), i -> "
            "CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        )
        sub_d2 = (
            "CAST(round(list_sum(list_transform(generate_series(1, {sub}), "
            "i -> ({a}[j * {sub} + i] - {b}[j * {sub} + i]) "
            "* ({a}[j * {sub} + i] - {b}[j * {sub} + i]))) "
            "* {fx}, 0) AS BIGINT)"
        )
        subspaces = ", (SELECT unnest(generate_series(0, {m})) AS j) s"

    coarse_d2_e = full_d2.format(a="e.embedding", b="c.c_emb", dim=DIM, fx=FX)
    coarse_d2_q = full_d2.format(a="q.q_emb", b="c.c_emb", dim=DIM, fx=FX)
    resid_v = resid.format(a="e.embedding", b="c.c_emb", dim=DIM)
    resid_q = resid.format(a="q_emb", b="c_emb", dim=DIM)
    d2_enc = sub_d2.format(a="v.r", b="c.emb", sub=SUB, fx=FX)
    d2_lut = sub_d2.format(a="p.qr", b="c.emb", sub=SUB, fx=FX)
    sub_src = subspaces.format(m=M - 1)

    return f"""
WITH coarse AS (
  SELECT vec_id AS c_id, embedding AS c_emb
  FROM embeddings WHERE vec_id % {CENTROID_MOD} = 0
),
assign_scored AS (
  SELECT e.vec_id, c.c_id, {coarse_d2_e} AS d2
  FROM embeddings e CROSS JOIN coarse c
),
assign AS (
  SELECT vec_id, c_id FROM (
    SELECT vec_id, c_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2 ASC, c_id ASC) AS rn
    FROM assign_scored
  ) ranked WHERE rn = 1
),
resid AS (
  SELECT a.vec_id, a.c_id, {resid_v} AS r
  FROM assign a
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN coarse c ON c.c_id = a.c_id
),
cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         r AS emb
  FROM resid WHERE vec_id % {SUB_SAMPLE_MOD} = {SUB_SAMPLE_REM}
  ORDER BY vec_id LIMIT {K}
),
assigns AS (
  SELECT v.vec_id, s.j, c.cid, {d2_enc} AS d2
  FROM resid v
  CROSS JOIN cents c
  {sub_src}
),
codes AS (
  SELECT vec_id, j, cid FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY d2 ASC, cid ASC) AS rn
    FROM assigns
  ) ranked WHERE rn = 1
),
queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb
  FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
),
probe_scored AS (
  SELECT q.query_id, q.q_emb, c.c_id, c.c_emb, {coarse_d2_q} AS d2
  FROM queries q CROSS JOIN coarse c
),
probes AS (
  SELECT query_id, c_id, {resid_q} AS qr FROM (
    SELECT query_id, q_emb, c_id, c_emb,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY d2 ASC, c_id ASC) AS rn
    FROM probe_scored
  ) ranked WHERE rn <= {N_PROBE}
),
luts AS (
  SELECT p.query_id, p.c_id, s.j, c.cid, {d2_lut} AS d2
  FROM probes p
  CROSS JOIN cents c
  {sub_src}
),
adc AS (
  SELECT l.query_id, a.vec_id AS neighbor_id,
         CAST(sum(l.d2) AS BIGINT) AS dist_fx
  FROM assign a
  JOIN codes v ON v.vec_id = a.vec_id
  JOIN luts l ON l.c_id = a.c_id AND l.j = v.j AND l.cid = v.cid
  WHERE a.vec_id <> l.query_id
  GROUP BY l.query_id, a.vec_id
)
SELECT query_id, neighbor_id,
       CAST(round(CAST(dist_fx AS DOUBLE) / {FX}, 6) AS DOUBLE) AS adc_dist,
       CAST(rnk AS INT) AS rank
FROM (
  SELECT query_id, neighbor_id, dist_fx,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist_fx ASC, neighbor_id ASC) AS rnk
  FROM adc
) final
WHERE rnk <= {TOP_K}
"""


IVFPQ_TOPK_SPARK = _ivfpq_sql("spark")
IVFPQ_TOPK_DUCK = _ivfpq_sql("duck")

def _q_ivfpq_topk(spark, sf_dir):
    """Registered query = the PRODUCTION composition (one-pass encode
    kernel + distributed LUTs + ADC join), which
    tests/test_ivfpq.py::test_index_query_path_matches_sql_topk_exactly
    pins bit-identical to IVFPQ_TOPK_SPARK; the DuckDB oracle below
    stays the SQL formulation, so the driver gate cross-checks the
    kernel against an independent engine. The SQL text is NOT used as
    the Spark query because its CTE chain re-evaluates the coarse
    assignment fold per reference (no materialization in Spark SQL) —
    measured 12.1 s vs 4.1 s for the kernel path at sf0.1."""
    from .. import matcache

    # materialized once per session for reuse by the recall report
    return matcache.materialize_once(
        spark, "anntopk_ivfpq", sf_dir,
        lambda: build_ivfpq_topk(spark, sf_dir),
    )


def build_ivfpq_topk(spark, sf_dir):
    """The raw (un-cached) IVF-PQ production plan — what plan-shape
    tests inspect; the registered query wraps it in materialize_once."""
    from pyspark.sql import functions as F

    from .. import catalog

    emb = catalog.load_table(spark, sf_dir, "embeddings")
    par = spark.sparkContext.defaultParallelism
    emb = emb.repartition(par)  # one-file scan -> spread the kernels
    ids, C = coarse_centroids(emb)
    sub = sub_codebook_from_residuals(emb, ids, C)
    index = ivfpq_encode(emb, ids, C, sub)
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    luts = ivfpq_query_luts(queries, ids, C, sub)
    return ivfpq_topk_from_index(index, luts)


QUERIES = {"emb_ivfpq_topk": _q_ivfpq_topk}
ORACLES = {"emb_ivfpq_topk": IVFPQ_TOPK_DUCK}


# ------------------------------------------------ production build path
# Same contract as pq.pq_encode: the SQL above IS the oracle; the
# billion-vector index build runs the identical math as Arrow kernel
# passes. Exactness: coarse argmin on the same fixed-point sequential
# fold; residual = double subtraction; sub-encode reuses the PQ
# left-to-right accumulation. tests/test_ivfpq.py pins kernel
# (assign, codes) == SQL (assign, codes) exactly.


def coarse_centroids(emb, centroid_mod: int = CENTROID_MOD):
    """(ids, matrix) of the fixture coarse centroids — sampled rows in
    vec_id order. Centroid-count rows reach the driver, never corpus."""
    import numpy as np
    from pyspark.sql import functions as F

    rows = (
        emb.filter(F.col("vec_id") % centroid_mod == 0)
        .select("vec_id", "embedding")
        .sort("vec_id")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    C = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    return ids, C


def ivfpq_encode(emb, ids, C, sub_cents):
    """(vec_id, c_id, j, cid) — coarse assignment + residual PQ codes
    in ONE mapInPandas pass against the broadcast coarse centroids
    (n_cells × DIM) and sub-codebook (K × DIM residuals). The
    index-build kernel: corpus is touched once, output is the two
    bucketable index tables joined flat. Coarse distances accumulate
    dim-by-dim for bit-parity with the SQL oracle."""
    import numpy as np
    import pandas as pd

    sc = emb.sparkSession.sparkContext
    bc = sc.broadcast((ids, C, sub_cents))

    def run(batches):
        cids, CC, SC = bc.value
        n_cells, dim = CC.shape
        k = len(SC)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n = len(E)
            # coarse argmin: accumulate (x_i - c_i)^2 LEFT-TO-RIGHT
            # over the 64 dims (SQL fold parity), fixed-point,
            # lowest-index tie-break == lowest c_id (cids ascending)
            acc = np.zeros((n, n_cells), dtype=np.float64)
            for d in range(dim):
                diff = E[:, d, None] - CC[None, :, d]
                acc = acc + diff * diff
            fx = np.floor(acc * FX + 0.5)
            cell_idx = np.argmin(fx, axis=1)
            R = E - CC[cell_idx]  # residuals, exact double subtraction
            out_codes = np.empty((n, M), dtype=np.int32)
            for j in range(M):
                sacc = np.zeros((n, k), dtype=np.float64)
                for i in range(SUB):
                    d = j * SUB + i
                    diff = R[:, d, None] - SC[None, :, d]
                    sacc = sacc + diff * diff
                sfx = np.floor(sacc * FX + 0.5)
                out_codes[:, j] = np.argmin(sfx, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), M),
                    "c_id": np.repeat(cids[cell_idx], M),
                    "j": np.tile(np.arange(M, dtype=np.int32), n),
                    "cid": out_codes.ravel(),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, c_id long, j int, cid int"
    )


def ivfpq_query_luts(
    queries, ids, C, sub_cents, n_probe: int = N_PROBE,
):
    """(query_id, c_id, j, cid, d2) ADC lookup tables, computed
    DISTRIBUTEDLY over the query set: each query finds its n_probe
    nearest coarse cells (same fixed-point argsort as the SQL),
    residualizes against each, and scores the residual against every
    sub-codebook entry. Output is n_queries × n_probe × M × K rows —
    KBs per query; the corpus is never touched here."""
    import numpy as np
    import pandas as pd

    sc = queries.sparkSession.sparkContext
    bc = sc.broadcast((ids, C, sub_cents))

    def run(batches):
        cids, CC, SC = bc.value
        n_cells, dim = CC.shape
        k = len(SC)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n = len(Q)
            acc = np.zeros((n, n_cells), dtype=np.float64)
            for d in range(dim):
                diff = Q[:, d, None] - CC[None, :, d]
                acc = acc + diff * diff
            fx = np.floor(acc * FX + 0.5)
            # stable argsort on (d2, c_id): cids ascending makes
            # kind='stable' reproduce the SQL (d2 ASC, c_id ASC) order
            order = np.argsort(fx, axis=1, kind="stable")[:, :n_probe]
            qid = pdf["vec_id"].to_numpy()
            out = []
            for p in range(order.shape[1]):
                cell_idx = order[:, p]
                R = Q - CC[cell_idx]
                for j in range(M):
                    sacc = np.zeros((n, k), dtype=np.float64)
                    for i in range(SUB):
                        d = j * SUB + i
                        diff = R[:, d, None] - SC[None, :, d]
                        sacc = sacc + diff * diff
                    sfx = np.floor(sacc * FX + 0.5).astype(np.int64)
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": np.repeat(qid, k),
                                "c_id": np.repeat(cids[cell_idx], k),
                                "j": np.full(n * k, j, dtype=np.int32),
                                "cid": np.tile(
                                    np.arange(k, dtype=np.int32), n
                                ),
                                "d2": sfx.ravel(),
                            }
                        )
                    )
            yield pd.concat(out, ignore_index=True)

    return queries.select("vec_id", "embedding").mapInPandas(
        run, schema="query_id long, c_id long, j int, cid int, d2 long"
    )


def ivfpq_topk_from_index(
    index, luts, k: int = TOP_K,
):
    """The production query: ADC against the persisted (vec_id, c_id,
    j, cid) index table. One equi-join on (c_id, j, cid) — all
    low-cardinality, hash-uniform keys — then a groupBy (query,
    neighbor) integer sum with map-side combine and a per-query top-k
    window. Bit-identical to the SQL formulation (integer distances,
    neighbor-id tie-break); tests/test_ivfpq.py pins it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    adc = (
        index.join(luts, ["c_id", "j", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("dist_fx"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_fx").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("dist_fx").cast("double") / FX, 6).alias(
                "adc_dist"
            ),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def sub_codebook_from_residuals(
    emb, ids, C,
    sample_mod: int = SUB_SAMPLE_MOD, sample_rem: int = SUB_SAMPLE_REM,
    k: int = K,
):
    """Fixture sub-codebook: residuals of the first ``k`` sampled
    vectors in vec_id order, computed driver-side from the broadcast-
    sized centroid matrix (k rows collected — codebook-sized)."""
    import numpy as np
    from pyspark.sql import functions as F

    rows = (
        emb.filter(F.col("vec_id") % sample_mod == sample_rem)
        .select("vec_id", "embedding")
        .sort("vec_id")
        .limit(k)
        .collect()
    )
    E = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    n_cells = len(ids)
    acc = np.zeros((len(E), n_cells), dtype=np.float64)
    for d in range(E.shape[1]):
        diff = E[:, d, None] - C[None, :, d]
        acc = acc + diff * diff
    fx = np.floor(acc * FX + 0.5)
    return E - C[np.argmin(fx, axis=1)]
