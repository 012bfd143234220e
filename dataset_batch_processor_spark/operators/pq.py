"""Product quantization (PQ) approximate nearest neighbor.

The third ANN family next to LSH (similarity.py) and IVF: split the
embedding into M subspaces, vector-quantize each subspace against a
small per-subspace codebook, and score queries against the 1-byte-per-
subspace codes with an additive lookup table (ADC — asymmetric
distance computation, Jégou et al., public formulation). PQ is what
makes billion-vector search fit in RAM: 64-dim float32 (256 B) → M=8
code bytes per vector, 32× compression, and query cost M lookups per
candidate instead of a 64-dim dot product.

Scale topology (the parts that matter at 10^9 vectors):
- **Encode once, store codes.** The corpus × M × K assignment explode
  is the one-off index build (the analogue of IVF's trained
  assignment); the codes table (vec_id, j, cid) is what persists —
  bucketed on vec_id it joins exchange-free.
- **Query side is a broadcast LUT.** Each query contributes M×K
  sub-distances (128 rows here) — KBs per query; the ADC join hits
  the codes table on (j, cid), both tiny-cardinality keys that
  hash-distribute uniformly, then one groupBy(query, vec) sums M
  integers with map-side combine.
- **No cross join anywhere**; the only corpus-sized shuffles are the
  encode groupBy and the ADC aggregation.

Determinism (driver hash gate): every sub-distance is an element-
SEQUENTIAL double fold over the 8 subspace dims, scaled to
fixed-point BIGINT (×10^6, round) — identical in both engines — so
codebook assignment (argmin), the ADC sum (integer, order-free), and
the final ranking (integer distance, neighbor-id tie-break) are all
integer-exact. The oracle-fixture codebook is the first K sampled
vectors per subspace (vec_id % 31 == 0, vec_id order) — the same
fixed-mod sampling trick the IVF oracle uses; production swaps in
k-means sub-codebooks exactly like `ivf_train_centroids`
(not SQL-expressible, recall pytest-bounded).
"""

from __future__ import annotations

DIM = 64
M = 8           # subspaces
SUB = DIM // M  # dims per subspace
K = 16          # centroids per subspace
SAMPLE_MOD = 31
QUERY_MOD = 50
TOP_K = 5
FX = 1_000_000  # fixed-point scale for squared distances


def _pq_sql(dialect: str, codes_table: str | None = None) -> str:
    """``codes_table`` (round 15): swap the SQL encode chain (corpus
    x K x M interpreted distance folds + per-(vec, j) argmin window)
    for an externally built codes relation — the driver entry passes
    the ``pq_encode`` Arrow kernel's output, which tests/test_pq.py
    pins code-for-code equal to this SQL chain. The cents/luts/ADC/
    ranking spelling is unchanged (the hll regs_table convention)."""
    spark = dialect == "spark"
    # element-sequential squared L2 between two embeddings restricted
    # to subspace j (0-based), as fixed-point BIGINT
    if spark:
        d2 = (
            "CAST(round(aggregate(sequence(1, {sub}), 0D, (acc, i) -> "
            "acc + (CAST(element_at({a}, j * {sub} + i) AS DOUBLE) "
            "- CAST(element_at({b}, j * {sub} + i) AS DOUBLE)) "
            "* (CAST(element_at({a}, j * {sub} + i) AS DOUBLE) "
            "- CAST(element_at({b}, j * {sub} + i) AS DOUBLE))) "
            "* {fx}, 0) AS BIGINT)"
        )
        subspaces = "LATERAL VIEW explode(sequence(0, {m})) s AS j"
    else:
        d2 = (
            "CAST(round(list_sum(list_transform(generate_series(1, {sub}), "
            "i -> (CAST({a}[j * {sub} + i] AS DOUBLE) "
            "- CAST({b}[j * {sub} + i] AS DOUBLE)) "
            "* (CAST({a}[j * {sub} + i] AS DOUBLE) "
            "- CAST({b}[j * {sub} + i] AS DOUBLE)))) "
            "* {fx}, 0) AS BIGINT)"
        )
        subspaces = ", (SELECT unnest(generate_series(0, {m})) AS j) s"

    d2_enc = d2.format(a="e.emb", b="c.emb", sub=SUB, fx=FX)
    d2_lut = d2.format(a="q.emb", b="c.emb", sub=SUB, fx=FX)
    sub_src = subspaces.format(m=M - 1)

    if codes_table is not None:
        codes = f"codes AS (SELECT vec_id, j, cid FROM {codes_table})"
    else:
        codes = f"""corpus AS (SELECT vec_id, embedding AS emb FROM embeddings),
assigns AS (
  SELECT e.vec_id, s.j, c.cid, {d2_enc} AS d2
  FROM corpus e
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
)"""
    return f"""
WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         embedding AS emb
  FROM embeddings WHERE vec_id % {SAMPLE_MOD} = 0
  ORDER BY vec_id LIMIT {K}
),
{codes},
queries AS (
  SELECT vec_id AS query_id, embedding AS emb
  FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
),
luts AS (
  SELECT q.query_id, s.j, c.cid, {d2_lut} AS d2
  FROM queries q
  CROSS JOIN cents c
  {sub_src}
),
adc AS (
  SELECT l.query_id, v.vec_id AS neighbor_id,
         CAST(sum(l.d2) AS BIGINT) AS dist_fx
  FROM codes v
  JOIN luts l ON l.j = v.j AND l.cid = v.cid
  WHERE v.vec_id <> l.query_id
  GROUP BY l.query_id, v.vec_id
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


PQ_TOPK_SPARK = _pq_sql("spark")
PQ_TOPK_DUCK = _pq_sql("duck")

def build_pq_topk(spark, sf_dir):
    """The raw (un-cached) PQ top-k plan — what plan-shape tests
    inspect; the registered query wraps it in materialize_once.

    Round 15: codes come from the ``pq_encode`` Arrow kernel (pinned
    code-for-code equal to the SQL encode chain by tests/test_pq.py)
    instead of the corpus x K x M interpreted fold + argmin window;
    the query-side LUT build (|Q| x K x M rows, KBs) and the ADC
    equi-join keep the SQL spelling, as does the whole DuckDB oracle."""
    from .. import catalog

    emb = catalog.load_table(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("embeddings")
    cents = pq_centroids(emb)
    pq_encode(emb, cents).createOrReplaceTempView("pq_codes_kernel")
    return spark.sql(_pq_sql("spark", codes_table="pq_codes_kernel"))


def _q_pq_topk(spark, sf_dir):
    # materialized once per session: the recall report joins this
    # exact result set against brute force — build once, scan after
    from .. import matcache

    return matcache.materialize_once(
        spark, "anntopk_pq", sf_dir, lambda: build_pq_topk(spark, sf_dir)
    )


QUERIES = {"emb_pq_topk": _q_pq_topk}
ORACLES = {"emb_pq_topk": PQ_TOPK_DUCK}


# ------------------------------------------------ production encode path
# The SQL formulation above IS the oracle; a 10^9-vector index build
# wants the same math as one Arrow kernel pass. Exactness contract:
# per-subspace squared distances accumulate LEFT-TO-RIGHT over the 8
# dims (a vectorized loop over dim slices — element order identical
# to the SQL fold, so the fixed-point BIGINT values match bit-for-bit
# and assignment ties break identically). tests/test_pq.py pins
# kernel codes == SQL codes exactly.


def pq_centroids(emb, sample_mod: int = SAMPLE_MOD, k: int = K):
    """Oracle-fixture codebook: first ``k`` sampled vectors in vec_id
    order, as a (k, DIM) float64 numpy matrix. k rows reach the
    driver — codebook-sized, never corpus-sized."""
    import numpy as np
    from pyspark.sql import functions as F

    rows = (
        emb.filter(F.col("vec_id") % sample_mod == 0)
        .select("vec_id", "embedding")
        .sort("vec_id")
        .limit(k)
        .collect()
    )
    return np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])


def pq_encode(emb, cents):
    """(vec_id, j, cid) PQ codes via one mapInPandas pass against the
    broadcast codebook — the index-build kernel. Scores every
    (vector, subspace, centroid) with numpy, sequential-over-dims
    accumulation for SQL-fold parity."""
    import numpy as np
    import pandas as pd

    bc = emb.sparkSession.sparkContext.broadcast(cents)

    def run(batches):
        C = bc.value  # (K, DIM)
        k, dim = C.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n = len(E)
            out_codes = np.empty((n, M), dtype=np.int32)
            for j in range(M):
                # accumulate (x_i - c_i)^2 left-to-right over the 8
                # dims: same association as the SQL aggregate() fold
                acc = np.zeros((n, k), dtype=np.float64)
                for i in range(SUB):
                    d = j * SUB + i
                    diff = E[:, d, None] - C[None, :, d]
                    acc = acc + diff * diff
                # fixed-point; floor(x+0.5) = SQL round-half-away-from
                # -zero for non-negative x (np.round is half-to-even)
                fx = np.floor(acc * FX + 0.5)
                # argmin with lowest-cid tie-break = np.argmin on axis 1
                out_codes[:, j] = np.argmin(fx, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), M),
                    "j": np.tile(np.arange(M, dtype=np.int32), n),
                    "cid": out_codes.ravel(),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, j int, cid int"
    )
