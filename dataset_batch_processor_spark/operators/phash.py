"""pHash — DCT-based perceptual image hash, integer-exact.

The frequency-domain sibling of dHash (operators/imagedup.py): where
dHash compares neighboring cell means (robust to brightness, fooled
by local texture), pHash thresholds the lowest 8×8 DCT coefficients
of a 32×32 downsample against their median — robust to blur, small
crops, and re-encodes, the standard second hash every image-dedup
stack runs next to a gradient hash.

Everything is INTEGER arithmetic so both engines agree bit-for-bit:
- 32×32 nearest-neighbor downsample of the closed-form fixture
  lattice (same pixel formula as imagedup.lattice_image — cited
  there; NN sampling keeps the resample exact integer index math).
- DCT-II via a fixed-point cosine table: C(k,n) = round(cos(π(2n+1)
  k/64)·1024) embedded as 256 literal constants — two integer
  matrix products (row pass then column pass), no floats anywhere.
- 63 AC coefficients (DC dropped), thresholded at their rank-32
  order statistic (deterministic tie-break by value, then index) —
  exact integer comparisons.
- 63-bit hash split into 4 bands (16/16/16/15 bits) for the same
  banded candidate join + exact-Hamming verify as dHash: candidates
  come from band equality, NEVER an all-pairs scan.

Scale: per image the hash is O(32·8·32 + 8·8·32) integer MACs inside
one SQL plan (or the kernel twin at production scale); the pair join
is banded with the same hot-band-cap option as dHash.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from .. import catalog

PHASH_HAMMING_MAX = 8
_SCALE = 1024


def _cos_values() -> list[tuple[int, int, int]]:
    """(k, n, q) fixed-point DCT-II cosines for k 0..7, n 0..31."""
    out = []
    for k in range(8):
        for n in range(32):
            q = round(math.cos(math.pi * (2 * n + 1) * k / 64) * _SCALE)
            out.append((k, n, q))
    return out


_COS_ROWS = ",\n    ".join(
    f"({k}, {n}, {q})" for k, n, q in _cos_values()
)


def _phash_sql() -> str:
    """The lattice pHash pairs as DuckDB SQL: the oracle of
    :func:`phash_pairs`."""
    from .dedup import DEFAULT_MAX_BUCKET_SIZE as cap

    # DuckDB may inline a plain CTE at every reference; bands is
    # referenced three times (cand twice, hashes once), so inlining
    # would recompute the whole 32x32-grid DCT pipeline per reference
    # — the same exponential-inlining hazard the k-core/LPA unrolled
    # oracles guard against (components.py _kcore_duck). MATERIALIZED
    # pins one evaluation.
    xor = ("bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))"
           " + bit_count(xor(ha.b2, hb.b2))"
           " + bit_count(xor(ha.b3, hb.b3))")
    return f"""
WITH imgs AS (
  SELECT doc_id,
         CAST(doc_id % 250 AS BIGINT) AS g,
         CAST(doc_id // 250 AS BIGINT) AS v
  FROM documents
),
dims AS (
  SELECT doc_id, g, v,
         CAST(g % 12 + 16 AS INT) AS w,
         CAST(g % 9 + 16 AS INT) AS h
  FROM imgs
),
rs AS (
  SELECT doc_id, g, v, w, h,
         unnest(generate_series(0, CAST(31 AS BIGINT))) AS r
  FROM dims
),
grid AS (
  SELECT doc_id, g, v, w, h, r,
         unnest(generate_series(0, CAST(31 AS BIGINT))) AS c
  FROM rs
),
luma AS (
  SELECT doc_id, r, c,
         (77 * a + 150 * ((a * 2 + 11) % 256)
                 +  29 * ((a * 3 + 22) % 256)) // 256 AS l
  FROM (
    SELECT doc_id, r, c,
           (sx * sx * (g % 7 + 1) + sy * sy * (g % 11 + 1)
              + sx * sy * (g % 5) + g * 13
              + CASE WHEN (sx * 7 + sy * 5) % 29 = 0
                     THEN v * 37 ELSE 0 END) % 256 AS a
    FROM (
      SELECT doc_id, g, v, r, c,
             (c * w) // 32 AS sx,
             (r * h) // 32 AS sy
      FROM grid
    ) s
  ) p
),
cosq(k, n, q) AS (
  VALUES
    {_COS_ROWS}
),
t1 AS (
  -- row-pass DCT: T1(k, c) = sum_r C(k, r) * L(r, c)
  SELECT l.doc_id, co.k, l.c,
         CAST(sum(co.q * l.l) AS BIGINT) AS t
  FROM luma l JOIN cosq co ON co.n = l.r
  GROUP BY l.doc_id, co.k, l.c
),
t2 AS (
  -- column-pass: T2(k, kc) = sum_c T1(k, c) * C(kc, c)
  SELECT t1.doc_id, t1.k, co.k AS kc,
         CAST(sum(co.q * t1.t) AS BIGINT) AS coef
  FROM t1 JOIN cosq co ON co.n = t1.c
  GROUP BY t1.doc_id, t1.k, co.k
),
ac AS (
  SELECT doc_id, CAST(k * 8 + kc - 1 AS INT) AS idx, coef
  FROM t2 WHERE NOT (k = 0 AND kc = 0)
),
med AS (
  SELECT doc_id, max(CASE WHEN rn = 32 THEN coef END) AS m
  FROM (
    SELECT doc_id, coef,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY coef, idx) AS rn
    FROM ac
  ) GROUP BY doc_id
),
bits AS (
  SELECT ac.doc_id, ac.idx,
         CASE WHEN ac.coef > med.m THEN 1 ELSE 0 END AS bit
  FROM ac JOIN med ON med.doc_id = ac.doc_id
),
bands AS MATERIALIZED (
  SELECT doc_id,
         CAST(idx // 16 AS INT) AS band_idx,
         CAST(sum(bit << (idx % 16)) AS INT) AS band_val
  FROM bits
  GROUP BY doc_id, idx // 16
),
hashes AS MATERIALIZED (
  SELECT doc_id,
         CAST(sum(CASE WHEN band_idx = 0 THEN band_val END) AS INT) AS b0,
         CAST(sum(CASE WHEN band_idx = 1 THEN band_val END) AS INT) AS b1,
         CAST(sum(CASE WHEN band_idx = 2 THEN band_val END) AS INT) AS b2,
         CAST(sum(CASE WHEN band_idx = 3 THEN band_val END) AS INT) AS b3
  FROM bands GROUP BY doc_id
),
bsz AS (
  SELECT band_idx, band_val, count(*) AS bn
  FROM bands GROUP BY band_idx, band_val
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bsz s ON s.band_idx = a.band_idx AND s.band_val = a.band_val
  JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
  WHERE s.bn <= {cap}
)
SELECT doc_a, doc_b,
       CAST({xor} AS INT) AS hamming
FROM cand
JOIN hashes ha ON ha.doc_id = doc_a
JOIN hashes hb ON hb.doc_id = doc_b
WHERE {xor} <= {PHASH_HAMMING_MAX}
ORDER BY doc_a, doc_b
"""


PHASH_PAIRS_DUCK = _phash_sql()


def _lattice_phash_batch(ids):
    """(n, 4) int32 band values (b0..b3) for a batch of lattice
    doc_ids — the batch-vectorized composition of ``lattice_image``
    and :func:`phash_hash_array` (identical integers, test-pinned).
    All arithmetic is int64 numpy: the DCT coefficients are bounded
    by 32*1024*8.4e6 ~ 2.7e11, far inside int64, and the rank-32
    median tie-break (coef, idx) is encoded losslessly as
    ``coef * 64 + idx`` (idx < 64)."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    g = ids % 250
    v = ids // 250
    w = g % 12 + 16
    h = g % 9 + 16
    rng = np.arange(32, dtype=np.int64)
    sx = (rng[None, :] * w[:, None]) // 32          # (n, 32): col c -> x
    sy = (rng[None, :] * h[:, None]) // 32          # (n, 32): row r -> y
    SX = sx[:, None, :]                              # varies along c axis
    SY = sy[:, :, None]                              # varies along r axis
    k1 = (g % 7 + 1)[:, None, None]
    k2 = (g % 11 + 1)[:, None, None]
    k3 = (g % 5)[:, None, None]
    a = (
        SX * SX * k1 + SY * SY * k2 + SX * SY * k3
        + (g * 13)[:, None, None]
        + ((SX * 7 + SY * 5) % 29 == 0) * (v * 37)[:, None, None]
    ) % 256
    luma = (
        77 * a + 150 * ((a * 2 + 11) % 256) + 29 * ((a * 3 + 22) % 256)
    ) // 256                                         # (n, 32, 32) int64
    C = np.zeros((8, 32), dtype=np.int64)
    for k, nn, q in _cos_values():
        C[k, nn] = q
    t2 = np.matmul(np.matmul(C, luma), C.T)          # (n, 8, 8) exact
    coefs = t2.reshape(n, 64)[:, 1:]                 # 63 AC, idx 0..62
    idx = np.arange(63, dtype=np.int64)
    key = coefs * 64 + idx
    m = np.sort(key, axis=1)[:, 31] // 64            # rank-32 by (coef, idx)
    bits = coefs > m[:, None]
    weights = (1 << (idx % 16)).astype(np.int64)
    out = np.zeros((n, 4), dtype=np.int64)
    for bi in range(4):
        msk = (idx // 16) == bi
        out[:, bi] = (bits[:, msk] * weights[msk]).sum(axis=1)
    return out.astype(np.int32)


def lattice_phash_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, b0..b3) of the lattice pHash via ONE Arrow batch
    kernel — no pixel explode, no shuffle. Integers are pinned equal
    to the SQL formulation by tests/test_phash.py."""
    from collections.abc import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            b = _lattice_phash_batch(ids)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "b0": b[:, 0],
                    "b1": b[:, 1],
                    "b2": b[:, 2],
                    "b3": b[:, 3],
                }
            )

    return docs.select("doc_id").mapInPandas(
        run, schema="doc_id long, b0 int, b1 int, b2 int, b3 int"
    )


def phash_pairs(docs: DataFrame) -> DataFrame:
    """Spark production plan, round 15 (optimization guide §4.2 /
    §2.4): the per-doc hash — downsample, DCT, median threshold,
    band assembly — runs as ONE vectorized Arrow batch kernel
    (``lattice_phash_hashes``), replacing the 1024-rows-per-doc grid
    explode, two grid aggregations, the per-doc median window and
    the bits/bands/hashes re-aggregations (plan: 10 Exchanges -> 3,
    199 KB formatted plan -> ~6 KB; query 4.4 s -> ~0.9 s and the
    session pair-graph build 11.8 s -> ~2 s at sf0.1). The banded
    candidate join + exact-Hamming verify stay JVM-side and
    identical. Integer-identical to PHASH_PAIRS_DUCK: the kernel is
    the batch twin of ``phash_hash_array`` (test-pinned), which is
    pinned to the SQL lattice."""
    from pyspark.sql import functions as F

    # round 16: hot-band cap + candidate join ride the shared guarded
    # bucket unfold (imagedup.banded_hamming_pairs); the kernel input
    # is fanned (§2.5) and the hash table evaluates ONCE (persisted)
    # instead of once per reference (band side + two verify joins)
    from .dedup import DEFAULT_MAX_BUCKET_SIZE
    from .imagedup import banded_hamming_pairs

    hashes = lattice_phash_hashes(catalog.fanout(docs.select("doc_id")))
    return banded_hamming_pairs(
        hashes, DEFAULT_MAX_BUCKET_SIZE, PHASH_HAMMING_MAX
    ).orderBy("doc_a", "doc_b")


def _q_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return phash_pairs(catalog.load_table(spark, sf_dir, "documents"))


QUERIES = {"img_phash_near_dup_pairs": _q_phash_pairs}
ORACLES = {"img_phash_near_dup_pairs": PHASH_PAIRS_DUCK}


# ------------------------------------------------ per-image reference
# Same bit semantics as the SQL lattice path, for one decoded image:
# the reference the tests hold the lattice kernel and the SQL hashes
# to. The DCT runs as two int64 matrix products against the same
# fixed-point cosine table, the threshold is the same rank-32 order
# statistic with the same (coef, idx) tie-break, so a lattice image
# hashed here equals the SQL hash bit-for-bit (test-pinned).


def phash_hash_array(arr) -> tuple[int, int, int, int]:
    """(b0..b3) 16/16/16/15-bit bands of the 63-bit pHash of an
    (h, w, 3) uint8 image. Integer-exact: NN downsample, fixed-point
    luma, int64 DCT, exact order-statistic threshold."""
    import numpy as np

    a = arr.astype(np.int64)
    h, w = a.shape[0], a.shape[1]
    if h < 1 or w < 1:
        raise ValueError("empty image")
    luma = (77 * a[:, :, 0] + 150 * a[:, :, 1] + 29 * a[:, :, 2]) // 256
    sy = (np.arange(32) * h) // 32
    sx = (np.arange(32) * w) // 32
    L = luma[np.ix_(sy, sx)]
    C = np.array(
        [[q for kk, n, q in _cos_values() if kk == k] for k in range(8)],
        dtype=np.int64,
    )
    t2 = C @ L @ C.T  # (8, 8) int64 — exact
    coefs = []
    for k in range(8):
        for kc in range(8):
            if k == 0 and kc == 0:
                continue
            coefs.append((int(t2[k, kc]), k * 8 + kc - 1))
    med = sorted(coefs)[31][0]  # rank-32 by (coef, idx)
    bands = [0, 0, 0, 0]
    for coef, idx in coefs:
        if coef > med:
            bands[idx // 16] |= 1 << (idx % 16)
    return tuple(bands)


# ------------------------------------------------ pHash dup clusters
# Transitive closure over the pHash pair graph — same composition as
# img_dhash_components (star contraction over a matcache-materialized
# edge list; recursive-CTE closure as the fixture oracle). pHash and
# dHash cluster DIFFERENT error families (frequency-domain vs
# gradient), so a production pipeline runs both and unions the edge
# lists; this query gates the pHash side end-to-end.


def _q_phash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..matcache import materialize_once
    from .components import connected_components

    def build() -> DataFrame:
        return phash_pairs(
            catalog.load_table(spark, sf_dir, "documents")
        ).select("doc_a", "doc_b")

    pairs = materialize_once(spark, "phash_pairs", sf_dir, build)
    return (
        connected_components(pairs, src="doc_a", dst="doc_b")
        .select(F.col("node").alias("doc_id"),
                F.col("comp").alias("component"))
        .orderBy("doc_id")
    )


PHASH_COMPONENTS_DUCK = f"""
WITH RECURSIVE ppairs AS (
  SELECT doc_a, doc_b FROM ({PHASH_PAIRS_DUCK.replace("ORDER BY doc_a, doc_b", "")}) e
),
sym AS (
  SELECT doc_a AS node, doc_b AS nbr FROM ppairs
  UNION
  SELECT doc_b AS node, doc_a AS nbr FROM ppairs
),
reach(node, other) AS (
  SELECT node, nbr FROM sym
  UNION
  SELECT r.node, s.nbr FROM reach r JOIN sym s ON r.other = s.node
)
SELECT node AS doc_id, least(node, min(other)) AS component
FROM reach
GROUP BY node
ORDER BY doc_id
"""

QUERIES["img_phash_components"] = _q_phash_components
ORACLES["img_phash_components"] = PHASH_COMPONENTS_DUCK
