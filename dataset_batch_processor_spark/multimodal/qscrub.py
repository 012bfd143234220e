"""Metadata-hygiene queries: EXIF orientation probe + normalization
(DNG and JPEG/APP1 paths), EXIF/GPS PII scrub, and scrub routing.
Split out of multimodal/queries.py in round 10; the segment walkers
live in metascrub.py/tiff.py.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog



# ----------------------------------- EXIF orientation probe + apply
# The rotate/mirror metadata every photo ingest must honor BEFORE any
# geometry math (tile grids, crops): tag 274 written into a real
# lossless-JPEG DNG, probed back header-only (S2 family), the decoded
# pixels re-laid by the standard 8-case transform, and the result
# pinned by a POSITION-WEIGHTED checksum — a plain pixel sum is
# permutation-invariant and would pass with the transform completely
# wrong; the weighted sum replays the exact output arrangement in SQL.

EXIF_ORIENT_SCHEMA = (
    "doc_id long, orientation int, out_w int, out_h int, "
    "probe_ok boolean, wsum bigint"
)


def _q_exif_orientation(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import tiff

    docs = catalog.fanout(
        catalog.load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                o = d % 8 + 1
                w, h = d % 9 + 6, d % 7 + 5
                sy, sx = np.mgrid[0:h, 0:w]
                arr = ((d * 3 + sx * 7 + sy * 13) % 251).astype(np.uint16)
                dng = tiff.encode_dng_lossless(
                    arr, predictor=d % 7 + 1, orientation=o
                )
                probed = tiff.probe_tiff_orientation(dng)
                dec = tiff.decode_dng_lossless(dng)[:, :, 0]
                up = tiff.apply_exif_orientation(dec, probed)
                oh, ow = up.shape
                weights = (
                    np.arange(oh)[:, None] * ow + np.arange(ow)[None, :] + 1
                )
                out.append({
                    "doc_id": d,
                    "orientation": o,
                    "out_w": int(ow),
                    "out_h": int(oh),
                    "probe_ok": bool(probed == o),
                    "wsum": int((weights * up.astype(np.int64)).sum()),
                })
            yield pd.DataFrame(
                out,
                columns=["doc_id", "orientation", "out_w", "out_h",
                         "probe_ok", "wsum"],
            )

    return docs.mapInPandas(run, schema=EXIF_ORIENT_SCHEMA)


# source coords per EXIF case (out(y,x) <- src(sy,sx)); 5-8 swap dims
_EXIF_SY = """CASE o
  WHEN 1 THEN y.y WHEN 2 THEN y.y
  WHEN 3 THEN h - 1 - y.y WHEN 4 THEN h - 1 - y.y
  WHEN 5 THEN x.x WHEN 6 THEN h - 1 - x.x
  WHEN 7 THEN h - 1 - x.x WHEN 8 THEN x.x END"""
_EXIF_SX = """CASE o
  WHEN 1 THEN x.x WHEN 2 THEN w - 1 - x.x
  WHEN 3 THEN w - 1 - x.x WHEN 4 THEN x.x
  WHEN 5 THEN y.y WHEN 6 THEN y.y
  WHEN 7 THEN w - 1 - y.y WHEN 8 THEN w - 1 - y.y END"""

EXIF_ORIENT_DUCK = f"""
WITH base AS (
  SELECT doc_id,
         doc_id % 8 + 1 AS o,
         doc_id % 9 + 6 AS w,
         doc_id % 7 + 5 AS h
  FROM documents WHERE doc_id % 3 = 0
),
dims AS (
  SELECT *,
         CASE WHEN o >= 5 THEN h ELSE w END AS ow,
         CASE WHEN o >= 5 THEN w ELSE h END AS oh
  FROM base
)
SELECT doc_id,
       CAST(o AS INT) AS orientation,
       CAST(ow AS INT) AS out_w,
       CAST(oh AS INT) AS out_h,
       TRUE AS probe_ok,
       CAST((
         SELECT sum(
           (y.y * ow + x.x + 1)
           * ((doc_id * 3 + ({_EXIF_SX}) * 7 + ({_EXIF_SY}) * 13) % 251)
         )
         FROM (SELECT unnest(generate_series(0, oh - 1)) AS y) y,
              (SELECT unnest(generate_series(0, ow - 1)) AS x) x
       ) AS BIGINT) AS wsum
FROM dims
"""


# --------------------------------------------- scrub_images routing
# Gates the DataFrame-level metascrub.scrub_images operator (the
# byte-level functions are gated by mm_exif_scrub): three format
# routes in one fixture — JPEG (segment scrub; injected Exif of
# known size), TIFF (transcode scrub; trailing slack of known size
# that the re-encode drops — real files carry trailing thumbnails/
# editor junk exactly like this), and an unsupported format that
# must take the F7 quarantine path. Every audit column is closed-form
# in doc_id, so a routing mix-up cannot hash green.


def _q_scrub_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import jpeg, metascrub, tiff as tiff_mod

    docs = catalog.fanout(
        catalog.load_table(spark, sf_dir, "documents").select("doc_id"),
        rows=catalog.table_rows(spark, sf_dir, "documents"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = d % 24 + 8, d % 17 + 8
                y, x = np.mgrid[0:h, 0:w]
                arr = np.stack(
                    [x * 3 + d % 100, y * 4 + d % 80, x + y + d % 50],
                    axis=2,
                ).astype(np.uint8)
                route = d % 3
                if route == 0:
                    content = metascrub.inject_app1(
                        jpeg.encode_jpeg(arr, quality=85),
                        metascrub.build_exif_app1(d % 17),
                    )
                    fmt = "jpg"
                elif route == 1:
                    content = tiff_mod.encode_tiff(arr) + b"\x00" * (d % 23)
                    fmt = "tiff"
                else:
                    content = b"GIF89a..."
                    fmt = "gif"
                out.append({"id": str(d), "fmt": fmt, "content": content})
            yield pd.DataFrame(out, columns=["id", "fmt", "content"])

    files = docs.mapInPandas(
        gen, schema="id string, fmt string, content binary"
    )
    scrubbed = metascrub.scrub_images(files)
    return scrubbed.select(
        F.col("id").cast("bigint").alias("doc_id"),
        "bytes_removed",
        "had_gps",
        F.col("error").isNotNull().alias("has_error"),
    )


from .metascrub import APP1_OVERHEAD as _APP1_OVERHEAD

SCRUB_ROUTING_DUCK = f"""
SELECT doc_id,
       CASE doc_id % 3
         WHEN 0 THEN CAST({_APP1_OVERHEAD} + doc_id % 17 AS INT)
         WHEN 1 THEN CAST(doc_id % 23 AS INT)
         ELSE CAST(NULL AS INT)
       END AS bytes_removed,
       CASE doc_id % 3
         WHEN 0 THEN TRUE WHEN 1 THEN FALSE ELSE CAST(NULL AS BOOLEAN)
       END AS had_gps,
       doc_id % 3 = 2 AS has_error
FROM documents
"""


# ------------------------------------------------ EXIF/GPS PII scrub
# Drives metascrub.scrub_jpeg under the hash gate: each fixture JPEG
# (the repo's own encoder, the mm_jpeg_roundtrip ramp) gets a
# deterministic Exif APP1 with a GPS IFD and doc_id-sized maker-note
# padding injected, then scrubbed. Gated facts: GPS audited present
# before and absent after, exactly the injected segment removed
# (APP1_OVERHEAD + doc_id%17 bytes), the scrubbed file byte-equal to
# the pre-injection original, and the decoded pixels bit-equal — a
# scrub that recompresses, over-drops, or desyncs the marker walk
# cannot hash green.

EXIF_SCRUB_SCHEMA = (
    "doc_id long, had_gps boolean, n_dropped int, bytes_removed int, "
    "clean_after boolean, bytes_restored boolean, pix_equal boolean"
)


def _q_exif_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import binary, jpeg, metascrub

    docs = catalog.fanout(
        catalog.load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = d % 24 + 8, d % 17 + 8
                y, x = np.mgrid[0:h, 0:w]
                arr = np.stack(
                    [x * 3 + d % 100, y * 4 + d % 80, x + y + d % 50],
                    axis=2,
                ).astype(np.uint8)
                orig = jpeg.encode_jpeg(arr, quality=85)
                pad = d % 17
                dirty = metascrub.inject_app1(
                    orig, metascrub.build_exif_app1(pad)
                )
                before = metascrub.jpeg_metadata_flags(dirty)
                clean, dropped, removed = metascrub.scrub_jpeg(dirty)
                after = metascrub.jpeg_metadata_flags(clean)
                out.append(
                    {
                        "doc_id": d,
                        "had_gps": bool(before["has_gps"]),
                        "n_dropped": int(dropped),
                        "bytes_removed": int(removed),
                        "clean_after": bool(
                            not after["has_exif"]
                            and after["n_meta_segments"] == 0
                        ),
                        "bytes_restored": bool(clean == orig),
                        "pix_equal": bool(
                            np.array_equal(
                                binary.decode_any("jpg", dirty),
                                binary.decode_any("jpg", clean),
                            )
                        ),
                    }
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "had_gps", "n_dropped", "bytes_removed",
                         "clean_after", "bytes_restored", "pix_equal"],
            )

    return docs.mapInPandas(run, schema=EXIF_SCRUB_SCHEMA)


def _exif_scrub_duck() -> str:
    from . import metascrub

    return f"""
SELECT doc_id,
       TRUE AS had_gps,
       CAST(1 AS INT) AS n_dropped,
       CAST({metascrub.APP1_OVERHEAD} + doc_id % 17 AS INT)
         AS bytes_removed,
       TRUE AS clean_after,
       TRUE AS bytes_restored,
       TRUE AS pix_equal
FROM documents
"""

# ------------------------------------ EXIF orientation normalization
# Tag-274 auto-rotation (round 9): cameras store the sensor image
# unrotated; 5/8 of the orientation values mean "this photo displays
# sideways or mirrored" and every geometric op downstream (tiles,
# crops, augmentations) is wrong until normalized. COMPLEMENTS the
# existing mm_exif_orientation (DNG tag write/probe + weighted
# checksum, tiff.py machinery): this query gates the JPEG/APP1 parse
# path and the lossless whole-pipeline normalize. Per doc: the
# upright gradient fixture is INVERSE-transformed into the stored
# form for orientation (doc_id % 8) + 1, round-tripped through the
# LOSSLESS PNG codec (exact pixels — so the normalized output must
# equal the formula-built upright BIT-FOR-BIT, a non-tautological
# whole-pipeline check) AND through JPEG carrying the real Exif APP1
# (gating the tag PARSE via metascrub.jpeg_orientation and a lossy
# tolerance). Output dims swap for the transpose family (o >= 5).

EXIF_ORIENT_NORM_SCHEMA = (
    "doc_id long, orientation int, out_w int, out_h int, "
    "orient_parsed int, norm_exact boolean, jpeg_within_tol boolean"
)

_ORIENT_INV = {1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 6: 8, 7: 7, 8: 6}


def _q_exif_orientation_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import binary, jpeg, metascrub, png, tiff

    docs = catalog.fanout(
        catalog.load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = d % 24 + 8, d % 17 + 8
                o = d % 8 + 1
                y, x = np.mgrid[0:h, 0:w]
                upright = np.stack(
                    [x * 3 + d % 100, y * 4 + d % 80, x + y + d % 50],
                    axis=2,
                ).astype(np.uint8)
                stored = tiff.apply_exif_orientation(
                    upright, _ORIENT_INV[o]
                )
                # lossless path: exact whole-pipeline equality
                dec_png = binary.decode_any("png", png.encode_png(stored))
                norm = tiff.apply_exif_orientation(dec_png, o)
                # lossy path: real Exif APP1 drives the parse
                dirty = metascrub.inject_app1(
                    jpeg.encode_jpeg(stored, quality=85),
                    metascrub.build_orientation_app1(o),
                )
                o_read = metascrub.jpeg_orientation(dirty)
                norm_j = tiff.apply_exif_orientation(
                    binary.decode_any("jpg", dirty), o_read
                )
                err = int(
                    np.abs(norm_j.astype(int) - upright.astype(int)).max()
                ) if norm_j.shape == upright.shape else 255
                out.append({
                    "doc_id": d,
                    "orientation": o,
                    "out_w": int(norm.shape[1]),
                    "out_h": int(norm.shape[0]),
                    "orient_parsed": int(o_read),
                    "norm_exact": bool(np.array_equal(norm, upright)),
                    "jpeg_within_tol": bool(err <= 24),
                })
            yield pd.DataFrame(
                out,
                columns=["doc_id", "orientation", "out_w", "out_h",
                         "orient_parsed", "norm_exact", "jpeg_within_tol"],
            )

    return docs.mapInPandas(run, schema=EXIF_ORIENT_NORM_SCHEMA)


EXIF_ORIENT_NORM_DUCK = """
SELECT doc_id,
       CAST(doc_id % 8 + 1 AS INT) AS orientation,
       CAST(doc_id % 24 + 8 AS INT) AS out_w,
       CAST(doc_id % 17 + 8 AS INT) AS out_h,
       CAST(doc_id % 8 + 1 AS INT) AS orient_parsed,
       TRUE AS norm_exact,
       TRUE AS jpeg_within_tol
FROM documents
"""


QUERIES = {
    "mm_exif_orientation": _q_exif_orientation,
    "mm_exif_scrub": _q_exif_scrub,
    "mm_scrub_routing": _q_scrub_routing,
    "mm_exif_orientation_normalize": _q_exif_orientation_normalize,
}
ORACLES = {
    "mm_exif_orientation": EXIF_ORIENT_DUCK,
    "mm_exif_scrub": _exif_scrub_duck(),
    "mm_scrub_routing": SCRUB_ROUTING_DUCK,
    "mm_exif_orientation_normalize": EXIF_ORIENT_NORM_DUCK,
}
