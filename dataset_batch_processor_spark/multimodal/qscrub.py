"""Metadata-hygiene queries: EXIF orientation probe + normalization
(DNG and JPEG/APP1 paths), EXIF/GPS PII scrub, and scrub routing.
Split out of multimodal/queries.py in round 10; the segment walkers
live in metascrub.py/tiff.py.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .qcommon import per_doc



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

    def row(d):
        o = d % 8 + 1
        w, h = d % 9 + 6, d % 7 + 5
        sy, sx = np.mgrid[0:h, 0:w]
        arr = ((d * 3 + sx * 7 + sy * 13) % 251).astype(np.uint16)
        dng = tiff.encode_dng_lossless(arr, predictor=d % 7 + 1, orientation=o)
        probed = tiff.probe_tiff_orientation(dng)
        dec = tiff.decode_dng_lossless(dng)[:, :, 0]
        up = tiff.apply_exif_orientation(dec, probed)
        oh, ow = up.shape
        weights = np.arange(oh)[:, None] * ow + np.arange(ow)[None, :] + 1
        yield (d, o, int(ow), int(oh), bool(probed == o),
               int((weights * up.astype(np.int64)).sum()))

    return per_doc(spark, sf_dir, EXIF_ORIENT_SCHEMA, row, mod=3)


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

    def row(d):
        w, h = d % 24 + 8, d % 17 + 8
        y, x = np.mgrid[0:h, 0:w]
        arr = np.stack(
            [x * 3 + d % 100, y * 4 + d % 80, x + y + d % 50], axis=2
        ).astype(np.uint8)
        route = d % 3
        if route == 0:
            yield str(d), "jpg", metascrub.inject_app1(
                jpeg.encode_jpeg(arr, quality=85),
                metascrub.build_exif_app1(d % 17),
            )
        elif route == 1:
            content = tiff_mod.encode_tiff(arr) + b"\x00" * (d % 23)
            yield str(d), "tiff", content
        else:
            yield str(d), "gif", b"GIF89a..."

    files = per_doc(spark, sf_dir, "id string, fmt string, content binary",
                    row, sized=True)
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

    def row(d):
        w, h = d % 24 + 8, d % 17 + 8
        y, x = np.mgrid[0:h, 0:w]
        arr = np.stack(
            [x * 3 + d % 100, y * 4 + d % 80, x + y + d % 50], axis=2
        ).astype(np.uint8)
        orig = jpeg.encode_jpeg(arr, quality=85)
        dirty = metascrub.inject_app1(orig, metascrub.build_exif_app1(d % 17))
        before = metascrub.jpeg_metadata_flags(dirty)
        clean, dropped, removed = metascrub.scrub_jpeg(dirty)
        after = metascrub.jpeg_metadata_flags(clean)
        yield (
            d,
            bool(before["has_gps"]),
            int(dropped),
            int(removed),
            bool(not after["has_exif"] and after["n_meta_segments"] == 0),
            bool(clean == orig),
            bool(np.array_equal(binary.decode_any("jpg", dirty),
                                binary.decode_any("jpg", clean))),
        )

    return per_doc(spark, sf_dir, EXIF_SCRUB_SCHEMA, row)


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

    def row(d):
        w, h = d % 24 + 8, d % 17 + 8
        o = d % 8 + 1
        y, x = np.mgrid[0:h, 0:w]
        upright = np.stack(
            [x * 3 + d % 100, y * 4 + d % 80, x + y + d % 50], axis=2
        ).astype(np.uint8)
        stored = tiff.apply_exif_orientation(upright, _ORIENT_INV[o])
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
        yield (d, o, int(norm.shape[1]), int(norm.shape[0]), int(o_read),
               bool(np.array_equal(norm, upright)), bool(err <= 24))

    return per_doc(spark, sf_dir, EXIF_ORIENT_NORM_SCHEMA, row)


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
