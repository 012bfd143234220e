"""Patch/augment queries: the tile-materialization checksum (G1
driven through real pixels), ViT patch extraction, and spatial
augmentation views. Split out of multimodal/queries.py in round 10;
kernels live in binary.py and operators/tiling.py.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog

from .qcommon import _fanout


TILE_CK = 4  # tile size; overlap 0.5 -> step 2

TILE_CK_SCHEMA = "doc_id long, i int, j int, tile_w int, tile_h int, pix_sum bigint"



def _tile_ck_spec():
    from ..operators import tiling

    return tiling.TileSpec(
        tile_size=TILE_CK, overlap_ratio=0.5, padding=0,
        pad_option="Extend Edges",
    )


_TILE_CK_IMAGES_CTE = """
images_meta AS (
  SELECT doc_id AS image_id,
         concat('img_', doc_id) AS basename,
         'png' AS ext,
         CAST(doc_id % 10 + 5 AS INT) AS width,
         CAST(doc_id % 9 + 5 AS INT) AS height
  FROM documents
)
"""


def _q_tile_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators import tiling
    from . import binary, png

    docs = catalog.load_table(spark, sf_dir, "documents")
    imgs = docs.select(
        F.col("doc_id").alias("image_id"),
        F.concat(F.lit("img_"), F.col("doc_id")).alias("basename"),
        F.lit("png").alias("ext"),
        (F.col("doc_id") % 10 + 5).cast("int").alias("width"),
        (F.col("doc_id") % 9 + 5).cast("int").alias("height"),
    )
    geom = tiling.tile_grid(imgs, _tile_ck_spec()).select(
        F.col("image_id").cast("string").alias("id"),
        "i", "j", "box_left", "box_top", "box_right", "box_bottom",
    )

    def gen_png(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = d % 10 + 5, d % 9 + 5
                y, x, c = np.mgrid[0:h, 0:w, 0:3]
                arr = ((d + 3 * x + 7 * y + 11 * c) % 256).astype(np.uint8)
                out.append(
                    {"id": str(d), "fmt": "png", "content": png.encode_png(arr)}
                )
            yield pd.DataFrame(out, columns=["id", "fmt", "content"])

    content = _fanout(spark, docs).mapInPandas(
        gen_png, schema="id string, fmt string, content binary"
    )
    pix = binary.materialize_tiles(
        geom, content, tile_size=TILE_CK, pad_option="Extend Edges"
    )

    def checksum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                if row.error is not None:
                    raise RuntimeError(f"tile {row.id} ({row.i},{row.j}): {row.error}")
                t = binary.decode_any("rawrgb", bytes(row.content))
                out.append(
                    {
                        "doc_id": int(row.id),
                        "i": int(row.i),
                        "j": int(row.j),
                        "tile_w": int(t.shape[1]),
                        "tile_h": int(t.shape[0]),
                        "pix_sum": int(t.astype(np.int64).sum()),
                    }
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "i", "j", "tile_w", "tile_h", "pix_sum"]
            )

    return pix.mapInPandas(checksum, schema=TILE_CK_SCHEMA)


def _tile_checksum_duck() -> str:
    from ..operators import tiling

    geom_sql = tiling.tile_grid_sql(_tile_ck_spec(), _TILE_CK_IMAGES_CTE)
    return f"""
WITH geom AS ({geom_sql})
SELECT CAST(image_id AS BIGINT) AS doc_id, i, j,
       CAST({TILE_CK} AS INT) AS tile_w,
       CAST({TILE_CK} AS INT) AS tile_h,
       CAST(list_sum(list_transform(generate_series(0, {TILE_CK - 1}), ty ->
         list_sum(list_transform(generate_series(0, {TILE_CK - 1}), tx ->
           list_sum(list_transform([0,1,2], c ->
             (image_id + 3 * least(box_left + tx, box_right - 1)
                       + 7 * least(box_top + ty, box_bottom - 1)
                       + 11 * c) % 256)))))) AS BIGINT) AS pix_sum
FROM geom
"""


# ------------------------------------------------ ViT patch extraction
# Drives binary.patchify_rgb (the vision-pretraining input step: image
# -> non-overlapping P x P patch grid) through the REAL PNG
# encode->decode path. Every patch row carries both a plain pixel sum
# AND a position-weighted sum (weight 1 + py*P*3 + px*3 + c), so a
# transposed, mirrored, or channel-swapped patch walk cannot hash
# green — the weighted sum pins the exact (row, col, channel) layout
# the patch embedding layer will flatten. The DuckDB oracle recomputes
# both sums in closed form from the pixel formula.

PATCH_P = 8
PATCHIFY_SCHEMA = (
    "doc_id long, pi int, pj int, patch_h int, patch_w int, "
    "pix_sum bigint, pos_weighted_sum bigint"
)


def _q_vit_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import binary, png

    docs = _fanout(
        spark,
        catalog.load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 5 == 3
        ),
    )
    wgt = (
        1 + np.arange(PATCH_P * PATCH_P * 3, dtype=np.int64)
    ).reshape(PATCH_P, PATCH_P, 3)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = (d % 4 + 1) * PATCH_P
                h = (d % 3 + 1) * PATCH_P
                y, x, c = np.mgrid[0:h, 0:w, 0:3]
                arr = ((d + 3 * x + 7 * y + 11 * c) % 256).astype(np.uint8)
                dec = binary.decode_any("png", png.encode_png(arr))
                grid = binary.patchify_rgb(dec, PATCH_P)
                for pi in range(grid.shape[0]):
                    for pj in range(grid.shape[1]):
                        pt = grid[pi, pj].astype(np.int64)
                        out.append({
                            "doc_id": d,
                            "pi": pi,
                            "pj": pj,
                            "patch_h": PATCH_P,
                            "patch_w": PATCH_P,
                            "pix_sum": int(pt.sum()),
                            "pos_weighted_sum": int((pt * wgt).sum()),
                        })
            yield pd.DataFrame(
                out,
                columns=["doc_id", "pi", "pj", "patch_h", "patch_w",
                         "pix_sum", "pos_weighted_sum"],
            )

    return docs.mapInPandas(run, schema=PATCHIFY_SCHEMA)


_P = PATCH_P
_PATCH_V = (
    f"(doc_id + 3 * (pj.pj * {_P} + px) + 7 * (pi.pi * {_P} + py)"
    " + 11 * c) % 256"
)
VIT_PATCHIFY_DUCK = f"""
SELECT doc_id,
       CAST(pi.pi AS INT) AS pi,
       CAST(pj.pj AS INT) AS pj,
       CAST({_P} AS INT) AS patch_h,
       CAST({_P} AS INT) AS patch_w,
       CAST(list_sum(list_transform(generate_series(0, {_P - 1}), py ->
         list_sum(list_transform(generate_series(0, {_P - 1}), px ->
           list_sum(list_transform([0, 1, 2], c ->
             {_PATCH_V})))))) AS BIGINT) AS pix_sum,
       CAST(list_sum(list_transform(generate_series(0, {_P - 1}), py ->
         list_sum(list_transform(generate_series(0, {_P - 1}), px ->
           list_sum(list_transform([0, 1, 2], c ->
             ({_PATCH_V}) * (1 + py * {_P * 3} + px * 3 + c)))))))
         AS BIGINT) AS pos_weighted_sum
FROM documents,
     LATERAL (SELECT unnest(generate_series(0, doc_id % 3)) AS pi) pi,
     LATERAL (SELECT unnest(generate_series(0, doc_id % 4)) AS pj) pj
WHERE doc_id % 5 = 3
"""


# --------------------------------------------- spatial augmentations
# Drives binary.augment_views (flip / rot90 / center-crop — the
# training-time view set) through the real PNG path; each view row is
# gated on a pixel sum AND a position-weighted sum over the OUTPUT
# layout, so a view computed with the wrong orientation (flip axis,
# rotation direction, crop origin) cannot hash green. The oracle
# recomputes every view in closed form by index remapping.

AUGMENT_SCHEMA = (
    "doc_id long, view string, out_h int, out_w int, "
    "pix_sum bigint, pos_weighted_sum bigint"
)


def _q_augment_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import binary, png

    docs = _fanout(
        spark,
        catalog.load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 5 == 4
        ),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = (d % 4 + 1) * 8
                h = (d % 3 + 1) * 8
                y, x, c = np.mgrid[0:h, 0:w, 0:3]
                arr = ((d + 3 * x + 7 * y + 11 * c) % 256).astype(np.uint8)
                dec = binary.decode_any("png", png.encode_png(arr))
                for name, v in binary.augment_views(dec).items():
                    vi = v.astype(np.int64)
                    oh, ow = vi.shape[:2]
                    wgt = (
                        1 + np.arange(oh * ow * 3, dtype=np.int64)
                    ).reshape(oh, ow, 3)
                    out.append({
                        "doc_id": d,
                        "view": name,
                        "out_h": oh,
                        "out_w": ow,
                        "pix_sum": int(vi.sum()),
                        "pos_weighted_sum": int((vi * wgt).sum()),
                    })
            yield pd.DataFrame(
                out,
                columns=["doc_id", "view", "out_h", "out_w",
                         "pix_sum", "pos_weighted_sum"],
            )

    return docs.mapInPandas(run, schema=AUGMENT_SCHEMA)


def _augment_duck() -> str:
    # per view: (out_h, out_w, source-pixel expr in output coords)
    # with W = 8*(doc_id%4+1), H = 8*(doc_id%3+1) and source pixel
    # p(sy, sx, c) = (doc_id + 3*sx + 7*sy + 11*c) % 256
    views = {
        "hflip": ("H", "W", "y", "W - 1 - x"),
        "vflip": ("H", "W", "H - 1 - y", "x"),
        "rot90": ("W", "H", "x", "W - 1 - y"),
        "crop": ("H // 2", "W // 2", "y + H // 4", "x + W // 4"),
    }
    selects = []
    for name, (oh, ow, sy, sx) in views.items():
        val = f"(doc_id + 3 * ({sx}) + 7 * ({sy}) + 11 * c) % 256"
        selects.append(f"""
  SELECT doc_id, '{name}' AS view,
         CAST({oh} AS INT) AS out_h, CAST({ow} AS INT) AS out_w,
         CAST(list_sum(list_transform(generate_series(0, ({oh}) - 1), y ->
           list_sum(list_transform(generate_series(0, ({ow}) - 1), x ->
             list_sum(list_transform([0, 1, 2], c ->
               {val})))))) AS BIGINT) AS pix_sum,
         CAST(list_sum(list_transform(generate_series(0, ({oh}) - 1), y ->
           list_sum(list_transform(generate_series(0, ({ow}) - 1), x ->
             list_sum(list_transform([0, 1, 2], c ->
               ({val}) * (1 + (y * ({ow}) + x) * 3 + c)))))))
           AS BIGINT) AS pos_weighted_sum
  FROM dims""")
    return (
        """
WITH dims AS (
  SELECT doc_id,
         8 * (doc_id % 3 + 1) AS H,
         8 * (doc_id % 4 + 1) AS W
  FROM documents WHERE doc_id % 5 = 4
)"""
        + "\n  UNION ALL\n".join(selects)
    )





QUERIES = {
    "mm_tile_checksum": _q_tile_checksum,
    "mm_vit_patchify": _q_vit_patchify,
    "mm_augment_views": _q_augment_views,
}
ORACLES = {
    "mm_tile_checksum": _tile_checksum_duck(),
    "mm_vit_patchify": VIT_PATCHIFY_DUCK,
    "mm_augment_views": _augment_duck(),
}
