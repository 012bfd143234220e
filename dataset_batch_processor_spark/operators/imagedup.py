"""Image near-duplicate detection: dHash (difference hash) + banded
Hamming join.

The image analogue of MinHash+LSH document dedup, and the capability
the reference's image-dataset users most need at scale (the reference
app dedups text lines only; see SURVEY.md §2.7 A4).  dHash is the
standard public perceptual hash (insensitive to resize and uniform
brightness): grayscale -> 8x9 grid of box means -> 64 bits, one per
adjacent-mean comparison.  Near-dups are found the LSH way — split
the 64 bits into 4 bands of 16, equi-join on (band_idx, band_value),
then verify candidates with an exact Hamming distance.  Never
all-pairs.

Everything stays integer-exact (README "Design rules"): luma is the
fixed-point BT.601 transform ``(77R + 150G + 29B) div 256``; a box
mean comparison ``mean_l > mean_r`` is evaluated as the integer
cross-product ``sum_l * area_r > sum_r * area_l``; band values are
16-bit integers assembled with shifts.  No floats anywhere, so the
driver's value hash is stable by construction.

The oracled query computes hashes from a deterministic pixel lattice
in PURE SQL on both engines — the whole pipeline (pixel explode, box
aggregation, bit assembly, banded join, Hamming verify) runs
JVM-side in Spark with zero Python.  ``dhash_bands`` below is the
same computation as a mapInPandas kernel over real binary image
columns (decode via the codec registry), pinned equal to the SQL
path by tests/test_imagedup.py.

At 100 TB: the pixel explode is a narrow flat map (no shuffle); box
aggregation is one map-side-combined shuffle on (doc_id, r, c) —
and the kernel path does even that per-row in numpy; the band join
is the same bucketed candidate generator as dedup.py's LSH, with the
same hot-bucket cap available (``_pairs_sql(max_band_size=...)``
adds the count+filter pass that drops degenerate band values before
the join — the petabyte-scale guard); the Hamming verify touches
candidates only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from .dedup import DEFAULT_MAX_BUCKET_SIZE

HAMMING_MAX = 6

# ---------------------------------------------------------------- fixture
# Deterministic per-doc image lattice: doc group g = doc_id % 250
# defines the pattern and dimensions (so docs sharing g are
# near-duplicates), v = doc_id div 250 perturbs a sparse pixel subset
# (so pair members differ by a few bits, not zero). The quadratic
# g-mixed pattern keeps hashes DIVERSE across groups — a plain
# gradient would give every group the same comparison signs and
# degenerate the band join toward all-pairs.

_DIMS = "g % 12 + 16"  # width
_DIMS_H = "g % 9 + 16"  # height


def lattice_image(doc_id: int):
    """The fixture image for ``doc_id`` as a (h, w, 3) uint8 array —
    the SINGLE numpy twin of the SQL lattice below (tests pin the
    kernel against the SQL through it; tools/round5b_scale_study.py
    at git 0753e1d, since deleted, synthesized its PNG corpus from
    it)."""
    import numpy as np

    g, v = doc_id % 250, doc_id // 250
    w, h = g % 12 + 16, g % 9 + 16
    y, x = np.mgrid[0:h, 0:w]
    a = (
        x * x * (g % 7 + 1)
        + y * y * (g % 11 + 1)
        + x * y * (g % 5)
        + g * 13
        + np.where((x * 7 + y * 5) % 29 == 0, v * 37, 0)
    ) % 256
    return np.stack(
        [a, (a * 2 + 11) % 256, (a * 3 + 22) % 256], axis=-1
    ).astype(np.uint8)


def _pixels_cte(div: str, xy: str) -> str:
    """Shared lattice CTE; ``div`` is the engine's integer-divide
    operator (Spark ``DIV``, DuckDB ``//``), ``xy`` the engine's
    (doc_id, g, v, w, h, x, y) lattice expansion."""
    return f"""
imgs AS (
  SELECT doc_id,
         CAST(doc_id % 250 AS BIGINT) AS g,
         CAST(doc_id {div} 250 AS BIGINT) AS v
  FROM documents
),
dims AS (
  SELECT doc_id, g, v,
         CAST({_DIMS} AS INT) AS w,
         CAST({_DIMS_H} AS INT) AS h
  FROM imgs
),
{xy},
px AS (
  SELECT doc_id, w, h, x, y,
         (x * x * (g % 7 + 1) + y * y * (g % 11 + 1)
            + x * y * (g % 5) + g * 13
            + CASE WHEN (x * 7 + y * 5) % 29 = 0
                   THEN v * 37 ELSE 0 END) % 256 AS a
  FROM xy
),
luma AS (
  SELECT doc_id,
         ((y * 8) {div} h) AS r,
         ((x * 9) {div} w) AS c,
         (77 * a + 150 * ((a * 2 + 11) % 256)
                 +  29 * ((a * 3 + 22) % 256)) {div} 256 AS l
  FROM px
),
cells AS (
  SELECT doc_id, r, c,
         CAST(sum(l) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS a
  FROM luma GROUP BY doc_id, r, c
),
bits AS (
  SELECT lcell.doc_id, lcell.r, lcell.c,
         CASE WHEN lcell.s * rcell.a > rcell.s * lcell.a
              THEN 1 ELSE 0 END AS bit
  FROM cells lcell
  JOIN cells rcell
    ON rcell.doc_id = lcell.doc_id
   AND rcell.r = lcell.r AND rcell.c = lcell.c + 1
  WHERE lcell.c < 8
),
bands AS (
  SELECT doc_id,
         CAST(r {div} 2 AS INT) AS band_idx,
         CAST(sum({{SHL}}) AS INT) AS band_val
  FROM bits
  GROUP BY doc_id, r {div} 2
)
"""


_XY_SPARK = """
xy AS (
  SELECT doc_id, g, v, w, h, x, y
  FROM dims
  LATERAL VIEW explode(sequence(0, w - 1)) xs AS x
  LATERAL VIEW explode(sequence(0, h - 1)) ys AS y
)"""

_XY_DUCK = """
xs AS (
  SELECT doc_id, g, v, w, h,
         unnest(generate_series(0, CAST(w - 1 AS BIGINT))) AS x
  FROM dims
),
xy AS (
  SELECT doc_id, g, v, w, h, x,
         unnest(generate_series(0, CAST(h - 1 AS BIGINT))) AS y
  FROM xs
)"""


def _hash_sql(engine: str) -> str:
    if engine == "spark":
        return _pixels_cte("DIV", _XY_SPARK).format(
            SHL="shiftleft(bit, (r % 2) * 8 + c)"
        )
    return _pixels_cte("//", _XY_DUCK).format(
        SHL="bit << ((r % 2) * 8 + c)"
    )


HASHES_PIVOT = """
  SELECT doc_id,
         CAST(sum(CASE WHEN band_idx = 0 THEN band_val END) AS INT) AS b0,
         CAST(sum(CASE WHEN band_idx = 1 THEN band_val END) AS INT) AS b1,
         CAST(sum(CASE WHEN band_idx = 2 THEN band_val END) AS INT) AS b2,
         CAST(sum(CASE WHEN band_idx = 3 THEN band_val END) AS INT) AS b3
  FROM bands GROUP BY doc_id
"""


def _pairs_sql(engine: str,
               max_band_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
               bare: bool = False) -> str:
    """``max_band_size`` is the hot-band cap (same contract as
    dedup.lsh_pairs_df's ``max_bucket_size``): a band value held by B
    images emits B²/2 candidates, so a degenerate corpus — blank or
    boilerplate imagery — can re-explode the join toward all-pairs.
    When set, a count+filter pass drops band values above the budget
    BEFORE the self-join; near-dups in a mega-band almost always also
    collide in a smaller band, so recall cost is marginal. Default-on
    since round 9 (dedup.DEFAULT_MAX_BUCKET_SIZE — the cap lives in
    the shared dual-dialect SQL, so the Spark plan and the DuckDB
    oracle apply identical semantics whether or not it binds);
    ``None`` is the uncapped escape hatch. ``bare`` drops
    the final ORDER BY (for edge-list composition — see
    _pairs_bare_sql)."""
    xor = (
        "bit_count(ha.b0 ^ hb.b0) + bit_count(ha.b1 ^ hb.b1) + "
        "bit_count(ha.b2 ^ hb.b2) + bit_count(ha.b3 ^ hb.b3)"
        if engine == "spark"
        else
        "bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1)) + "
        "bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))"
    )
    cand_src = "bands"
    cap_ctes = ""
    if max_band_size is not None:
        cap_ctes = f"""
bsz AS (
  SELECT band_idx, band_val, count(*) AS bn
  FROM bands GROUP BY band_idx, band_val
),
bands_capped AS (
  SELECT bands.* FROM bands
  JOIN bsz USING (band_idx, band_val)
  WHERE bn <= {max_band_size}
),"""
        cand_src = "bands_capped"
    return f"""
WITH {_hash_sql(engine)},{cap_ctes}
hashes AS ({HASHES_PIVOT}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM {cand_src} a
  JOIN {cand_src} b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST({xor} AS INT) AS hamming
FROM cand
JOIN hashes ha ON ha.doc_id = doc_a
JOIN hashes hb ON hb.doc_id = doc_b
WHERE {xor} <= {HAMMING_MAX}
{'' if bare else 'ORDER BY doc_a, doc_b'}
"""


DHASH_PAIRS_SPARK = _pairs_sql("spark")
DHASH_PAIRS_DUCK = _pairs_sql("duck")


def _lattice_dhash_batch(ids):
    """(n, 4) int32 band values (b0..b3) of the lattice dHash for a
    batch of doc_ids — the batch-vectorized composition of
    ``lattice_image`` and the dHash box-mean pipeline (identical
    integers to the SQL lattice; test-pinned). Pixels are computed on
    a padded 24x27 grid with a validity mask (dims vary per doc, 16
    <= w <= 27, 16 <= h <= 24); box sums ride one ``bincount`` over
    (doc, cell) keys; the mean comparison stays the exact integer
    cross-product ``s_l * a_r > s_r * a_l``."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    g = ids % 250
    v = ids // 250
    w = (g % 12 + 16)[:, None, None]
    h = (g % 9 + 16)[:, None, None]
    X = np.arange(27, dtype=np.int64)[None, None, :]
    Y = np.arange(24, dtype=np.int64)[None, :, None]
    a = (
        X * X * (g % 7 + 1)[:, None, None]
        + Y * Y * (g % 11 + 1)[:, None, None]
        + X * Y * (g % 5)[:, None, None]
        + (g * 13)[:, None, None]
        + ((X * 7 + Y * 5) % 29 == 0) * (v * 37)[:, None, None]
    ) % 256
    luma = (
        77 * a + 150 * ((a * 2 + 11) % 256) + 29 * ((a * 3 + 22) % 256)
    ) // 256                                         # (n, 24, 27)
    valid = (X < w) & (Y < h)
    r = (Y * 8) // h                                  # (n, 24, 1)
    c = (X * 9) // w                                  # (n, 1, 27)
    # r*16+c <= 11*16+14 = 190 < 256, so one 256-wide slot per doc
    key = (
        np.arange(n, dtype=np.int64)[:, None, None] * 256 + r * 16 + c
    )
    flat = key.ravel()
    # integer sums are exact in the float64 bincount accumulator
    # (cell sums are < 2^53 by orders of magnitude)
    s = np.bincount(
        flat, weights=np.where(valid, luma, 0).ravel(), minlength=n * 256
    ).astype(np.int64).reshape(n, 16, 16)
    area = np.bincount(
        flat, weights=valid.astype(np.float64).ravel(), minlength=n * 256
    ).astype(np.int64).reshape(n, 16, 16)
    S, A = s[:, :8, :9], area[:, :8, :9]
    bits = S[:, :, :8] * A[:, :, 1:9] > S[:, :, 1:9] * A[:, :, :8]
    shl = (
        1 << ((np.arange(8, dtype=np.int64)[:, None] % 2) * 8
              + np.arange(8, dtype=np.int64)[None, :])
    )                                                 # (8, 8) bit weights
    val = bits * shl
    out = np.zeros((n, 4), dtype=np.int64)
    for b in range(4):
        out[:, b] = val[:, 2 * b : 2 * b + 2, :].sum(axis=(1, 2))
    return out.astype(np.int32)


def lattice_dhash_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, b0..b3) of the lattice dHash via ONE Arrow batch
    kernel — no pixel explode, no box-aggregation shuffle."""
    from collections.abc import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            b = _lattice_dhash_batch(ids)
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


def banded_hamming_pairs(
    hashes: DataFrame,
    max_band_size: int | None,
    hamming_max: int,
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs sharing any of the four 16-bit
    bands, exact-Hamming verified — the shared tail of the pHash and
    dHash pair builders (round 16).

    The hash table is persisted HERE and referenced three times (the
    band unfold + the two verify sides), so the Arrow lattice kernel
    evaluates ONCE per plan instead of being re-run by every
    reference (the round-15 shape re-evaluated it up to four times:
    two self-join sides + two verify joins). The banded candidate
    join is ``dedup._bucket_pairs`` — the guarded bucket unfold (one
    exchange of the bands, the hot-band cap enforced by a spill-safe
    window count BEFORE the collect); identical kept set and pair set
    to the old ``_drop_hot_buckets`` + self-join. The verify joins
    read the persisted (tiny: one row per image) hash relation."""
    from .dedup import _bucket_pairs

    hashes = hashes.persist()
    bands = hashes.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).cast("int").alias("band"),
                    F.col(f"b{i}").cast("long").alias("bucket"),
                )
                for i in range(4)
            ])
        ).alias("e"),
    ).select("doc_id", "e.band", "e.bucket")
    cand = _bucket_pairs(bands, max_band_size)
    ham = F.expr(
        "bit_count(ha_b0 ^ hb_b0) + bit_count(ha_b1 ^ hb_b1) + "
        "bit_count(ha_b2 ^ hb_b2) + bit_count(ha_b3 ^ hb_b3)"
    )
    ha = hashes.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{i}").alias(f"ha_b{i}") for i in range(4)],
    )
    hb = hashes.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{i}").alias(f"hb_b{i}") for i in range(4)],
    )
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= hamming_max)
    )


def dhash_pairs_df(
    docs: DataFrame,
    max_band_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    bare: bool = False,
) -> DataFrame:
    """DataFrame-API twin of ``_pairs_sql('spark')`` over the Arrow
    lattice kernel (round 15, optimization guide §4.2 / §2.4): the
    per-doc hash runs vectorized in one Python pass instead of the
    ~650-rows-per-doc pixel explode + box aggregation + band
    re-aggregation. Round 16: the kernel input is fanned
    (guide §2.5 — the one-row-group scan serialized it in one task),
    the hash table evaluates once (persisted in
    ``banded_hamming_pairs``), and the banded candidate join is the
    guarded bucket unfold. Same rows, same hot-band cap semantics,
    same ordering contract as the SQL (``bare`` drops the final
    ORDER BY for edge-list composition)."""
    from .. import catalog

    hashes = lattice_dhash_hashes(catalog.fanout(docs.select("doc_id")))
    out = banded_hamming_pairs(hashes, max_band_size, HAMMING_MAX)
    return out if bare else out.orderBy("doc_a", "doc_b")


def _q_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dhash_pairs_df(catalog.load_table(spark, sf_dir, "documents"))


# ----------------------------------------------- kernel over binary images


def dhash_bands(df: DataFrame) -> DataFrame:
    """dHash band signature for real binary image columns
    (id, fmt, content) — identical bit semantics to the SQL path:
    fixed-point luma, pixel-to-box assignment ``r = y*8 div h``,
    integer cross-product comparisons. Decode failures quarantine
    (F7) with band columns NULL."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ..multimodal import binary as mmbin

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                rec = {"id": str(row.id), "b0": None, "b1": None,
                       "b2": None, "b3": None, "error": None}
                try:
                    arr = mmbin.decode_any(
                        row.fmt.lower(), bytes(row.content)
                    ).astype(np.int64)
                    h, w = arr.shape[0], arr.shape[1]
                    if w < 9 or h < 8:
                        # smaller than the 8x9 grid -> empty boxes,
                        # which would silently diverge from the SQL
                        # semantics; quarantine instead
                        raise ValueError(
                            f"image {w}x{h} too small for dHash "
                            "(needs >= 9x8)"
                        )
                    l = (77 * arr[:, :, 0] + 150 * arr[:, :, 1]
                         + 29 * arr[:, :, 2]) // 256
                    y = np.arange(h)[:, None]
                    x = np.arange(w)[None, :]
                    r = (y * 8) // h
                    c = (x * 9) // w
                    flat = (r * 9 + c).ravel()
                    s = np.bincount(flat, weights=l.ravel(),
                                    minlength=72).astype(np.int64)
                    a = np.bincount(flat, minlength=72).astype(np.int64)
                    s, a = s.reshape(8, 9), a.reshape(8, 9)
                    bit = (s[:, :8] * a[:, 1:] > s[:, 1:] * a[:, :8])
                    k = ((np.arange(8)[:, None] % 2) * 8
                         + np.arange(8)[None, :])
                    vals = (bit.astype(np.int64) << k)
                    band = vals.reshape(4, 2, 8).sum(axis=(1, 2))
                    rec.update(b0=int(band[0]), b1=int(band[1]),
                               b2=int(band[2]), b3=int(band[3]))
                except Exception as e:  # noqa: BLE001 — quarantine
                    rec["error"] = f"{type(e).__name__}: {e}"
                out.append(rec)
            yield pd.DataFrame(
                out, columns=["id", "b0", "b1", "b2", "b3", "error"]
            )

    return df.select("id", "fmt", "content").mapInPandas(
        run,
        schema="id string, b0 int, b1 int, b2 int, b3 int, error string",
    )


# ----------------------------------------------- near-dup clusters
# The dedup end-product for images, mirroring the document pipeline
# (dedup pairs -> connected components -> canonical member): cluster
# labels over the dHash near-dup graph via the O(log n)-round star
# contraction, oracled by a recursive-CTE transitive closure exactly
# like docs_dup_components.


def _pairs_bare_sql(engine: str) -> str:
    """(doc_a, doc_b) pairs under the Hamming gate, unordered — the
    edge list for closure composition."""
    return f"SELECT doc_a, doc_b FROM ({_pairs_sql(engine, bare=True)}) edges"


def _q_dhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..matcache import materialize_once
    from .components import connected_components

    def build() -> DataFrame:
        return dhash_pairs_df(
            catalog.load_table(spark, sf_dir, "documents"), bare=True
        ).select("doc_a", "doc_b")

    # materialize the edge list ONCE: star contraction iterates, and
    # without this every round re-runs the whole dHash pipeline
    # (pixel explode -> cells -> bands -> join) — the same recompute
    # bug class matcache.pair_graph fixed for the document graph
    pairs = materialize_once(spark, "dhash_pairs", sf_dir, build)
    return (
        connected_components(pairs, src="doc_a", dst="doc_b")
        .select(F.col("node").alias("doc_id"),
                F.col("comp").alias("component"))
        .orderBy("doc_id")
    )


IMG_COMPONENTS_DUCK = f"""
WITH RECURSIVE ipairs AS (
  {_pairs_bare_sql("duck")}
),
sym AS (
  SELECT doc_a AS node, doc_b AS nbr FROM ipairs
  UNION
  SELECT doc_b AS node, doc_a AS nbr FROM ipairs
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

QUERIES = {
    "img_dhash_near_dup_pairs": _q_dhash_pairs,
    "img_dhash_components": _q_dhash_components,
}
ORACLES = {
    "img_dhash_near_dup_pairs": DHASH_PAIRS_DUCK,
    "img_dhash_components": IMG_COMPONENTS_DUCK,
}
