"""RAW vendor-format roundtrip queries (DNG lossless + tiled, CR2,
NEF packed + lossless-compressed, ARW uncompressed + ARW2): the S4
extension matrix (SURVEY.md §2; reference extensions at
/root/reference/modules/filter_crop.py:39) driven through the real
pure-Python decoders in rawvendor.py/ljpeg.py/tiff.py. Split out of
multimodal/queries.py in round 10.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .qcommon import per_doc


# Camera-RAW entropy layer (T.81 process 14 / SOF3, multimodal/
# ljpeg.py) driven end-to-end through the DNG container: per doc a
# deterministic 16-bit pattern (1..3 components, every predictor 1..7
# exercised across the id lattice) is encoded with OUR encoder into a
# Compression=7 DNG, decoded back, and gated on (a) BIT-EXACT
# equality — the defining property of a lossless process — and (b) a
# pixel checksum the DuckDB oracle recomputes in closed form from the
# pattern, so a decoder that silently returned the wrong pixels could
# not hash green even if it returned exact=TRUE.

DNG_ROUNDTRIP_SCHEMA = (
    "doc_id long, width int, height int, n_comp int, "
    "lossless_exact boolean, pix_sum bigint"
)


def _q_dng_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import tiff

    def row(d):
        w, h, nc = d % 13 + 8, d % 11 + 8, d % 3 + 1
        y, x, c = np.mgrid[0:h, 0:w, 0:nc]
        arr = ((d * 7 + x * 257 + y * 1031 + c * 4099) % 65536
               ).astype(np.uint16)
        dng = tiff.encode_dng_lossless(arr, predictor=d % 7 + 1)
        dec = tiff.decode_dng_lossless(dng)
        yield (d, w, h, nc, bool(np.array_equal(dec, arr)),
               int(dec.astype(np.int64).sum()))

    return per_doc(spark, sf_dir, DNG_ROUNDTRIP_SCHEMA, row, mod=4)


DNG_ROUNDTRIP_DUCK = """
SELECT doc_id,
       CAST(doc_id % 13 + 8 AS INT) AS width,
       CAST(doc_id % 11 + 8 AS INT) AS height,
       CAST(doc_id % 3 + 1 AS INT) AS n_comp,
       TRUE AS lossless_exact,
       CAST((
         SELECT sum((doc_id * 7 + x.x * 257 + y.y * 1031 + c.c * 4099)
                    % 65536)
         FROM (SELECT unnest(generate_series(0, doc_id % 13 + 7)) AS x) x,
              (SELECT unnest(generate_series(0, doc_id % 11 + 7)) AS y) y,
              (SELECT unnest(generate_series(0, doc_id % 3)) AS c) c
       ) AS BIGINT) AS pix_sum
FROM documents
WHERE doc_id % 4 = 0
"""


# Tiled-DNG variant (VERDICT r6 next#3): the layout real cameras ship.
# Same bit-exact + closed-form-checksum gate as mm_dng_lossless_roundtrip,
# but the container writes TileWidth/TileLength/TileOffsets/TileByteCounts
# (TIFF 6.0 §15) with per-doc geometry spanning image-smaller-than-tile,
# exact-multiple, and clipped-edge cases, and tile size alternating
# 16x16 / 32x16. n_tiles is recomputed by the oracle so a decoder that
# ignored the grid could not hash green.

DNG_TILED_SCHEMA = (
    "doc_id long, width int, height int, n_comp int, n_tiles int, "
    "lossless_exact boolean, pix_sum bigint"
)


def _q_dng_tiled_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import tiff

    def row(d):
        w, h, nc = d % 37 + 10, d % 29 + 10, d % 3 + 1
        tw = 16 if d % 2 == 0 else 32
        y, x, c = np.mgrid[0:h, 0:w, 0:nc]
        arr = ((d * 7 + x * 257 + y * 1031 + c * 4099) % 65536
               ).astype(np.uint16)
        dng = tiff.encode_dng_lossless(arr, predictor=d % 7 + 1, tile=(tw, 16))
        dec = tiff.decode_dng_lossless(dng)
        yield (d, w, h, nc, ((w + tw - 1) // tw) * ((h + 15) // 16),
               bool(np.array_equal(dec, arr)),
               int(dec.astype(np.int64).sum()))

    return per_doc(spark, sf_dir, DNG_TILED_SCHEMA, row, mod=5)


DNG_TILED_DUCK = """
SELECT doc_id,
       CAST(doc_id % 37 + 10 AS INT) AS width,
       CAST(doc_id % 29 + 10 AS INT) AS height,
       CAST(doc_id % 3 + 1 AS INT) AS n_comp,
       CAST(
         ((doc_id % 37 + 10 + CASE WHEN doc_id % 2 = 0 THEN 15 ELSE 31 END)
            // CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 32 END)
         * ((doc_id % 29 + 25) // 16)
       AS INT) AS n_tiles,
       TRUE AS lossless_exact,
       CAST((
         SELECT sum((doc_id * 7 + x.x * 257 + y.y * 1031 + c.c * 4099)
                    % 65536)
         FROM (SELECT unnest(generate_series(0, doc_id % 37 + 9)) AS x) x,
              (SELECT unnest(generate_series(0, doc_id % 29 + 9)) AS y) y,
              (SELECT unnest(generate_series(0, doc_id % 3)) AS c) c
       ) AS BIGINT) AS pix_sum
FROM documents
WHERE doc_id % 5 = 0
"""


# Vendor-RAW container walks (VERDICT r6 next#1, closing S4): the
# sliced-CR2 and packed-NEF decoders (multimodal/rawvendor.py) driven
# end-to-end on self-produced bytes, bit-exact + closed-form checksum —
# the exact pattern that proved the DNG path. CR2 varies slice count
# 1..3, interleave 1..2 components, and every predictor; NEF varies
# 12/14/16-bit packing. A decoder that mis-unsliced or mis-unpacked a
# single sample could not hash green.

CR2_ROUNDTRIP_SCHEMA = (
    "doc_id long, width int, height int, n_slices int, "
    "lossless_exact boolean, pix_sum bigint"
)


def _q_cr2_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import binary, optional_codecs, rawvendor

    def row(d):
        h, w = d % 21 + 6, 2 * (d % 17 + 4)
        ns, nc = d % 3 + 1, d % 2 + 1
        y, x = np.mgrid[0:h, 0:w]
        arr = ((d * 7 + x * 263 + y * 1021) % 65536).astype(np.uint16)
        # every third doc adds row-aligned restart markers, so
        # the DRI/RSTn machinery sits under the hash gate too
        cr2 = rawvendor.encode_cr2_lossless(
            arr, n_slices=ns, ncomp=nc, predictor=d % 7 + 1,
            restart_rows=(d % 3 + 2) if d % 3 == 0 else 0,
        )
        dec = rawvendor.decode_cr2_lossless(cr2)
        # exactness gate is the pure decoder (deterministic on
        # every install); the registry-path assertion only runs
        # when 'cr2' still routes to it — optional rawpy/
        # imageio codecs demosaic real CR2s and would reject or
        # re-tone this synthetic minimal container (ADVICE r7)
        ok = bool(np.array_equal(dec, arr))
        if "cr2" not in optional_codecs.REGISTERED:
            disp = binary.decode_any("bin", cr2)
            ok = ok and bool(
                np.array_equal(disp[:, :, 0], (arr >> 8).astype(np.uint8))
            )
        yield d, w, h, ns, ok, int(dec.astype(np.int64).sum())

    return per_doc(spark, sf_dir, CR2_ROUNDTRIP_SCHEMA, row, mod=4, rem=1)


CR2_ROUNDTRIP_DUCK = """
SELECT doc_id,
       CAST(2 * (doc_id % 17 + 4) AS INT) AS width,
       CAST(doc_id % 21 + 6 AS INT) AS height,
       CAST(doc_id % 3 + 1 AS INT) AS n_slices,
       TRUE AS lossless_exact,
       CAST((
         SELECT sum((doc_id * 7 + x.x * 263 + y.y * 1021) % 65536)
         FROM (SELECT unnest(generate_series(0, 2 * (doc_id % 17 + 4) - 1))
               AS x) x,
              (SELECT unnest(generate_series(0, doc_id % 21 + 5)) AS y) y
       ) AS BIGINT) AS pix_sum
FROM documents
WHERE doc_id % 4 = 1
"""


NEF_ROUNDTRIP_SCHEMA = (
    "doc_id long, width int, height int, bits int, "
    "lossless_exact boolean, sample_sum bigint"
)


def _q_nef_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import rawvendor

    def row(d):
        h, w = d % 19 + 5, d % 23 + 5
        bits = (12, 14, 16)[d % 3]
        y, x = np.mgrid[0:h, 0:w]
        arr = ((d * 11 + x * 157 + y * 331) % (1 << bits)).astype(np.uint16)
        nef = rawvendor.encode_nef_packed(arr, bits=bits)
        dec = rawvendor.decode_nef_packed(nef)
        yield (d, w, h, bits, bool(np.array_equal(dec, arr)),
               int(dec.astype(np.int64).sum()))

    return per_doc(spark, sf_dir, NEF_ROUNDTRIP_SCHEMA, row, mod=4, rem=2,
                   sized=True)


NEF_ROUNDTRIP_DUCK = """
SELECT doc_id,
       CAST(doc_id % 23 + 5 AS INT) AS width,
       CAST(doc_id % 19 + 5 AS INT) AS height,
       CAST(CASE doc_id % 3 WHEN 0 THEN 12 WHEN 1 THEN 14 ELSE 16 END
            AS INT) AS bits,
       TRUE AS lossless_exact,
       CAST((
         SELECT sum((doc_id * 11 + x.x * 157 + y.y * 331)
                    % (1 << CASE doc_id % 3 WHEN 0 THEN 12
                            WHEN 1 THEN 14 ELSE 16 END))
         FROM (SELECT unnest(generate_series(0, doc_id % 23 + 4)) AS x) x,
              (SELECT unnest(generate_series(0, doc_id % 19 + 4)) AS y) y
       ) AS BIGINT) AS sample_sum
FROM documents
WHERE doc_id % 4 = 2
"""




NEFC_ROUNDTRIP_SCHEMA = (
    "doc_id long, width int, height int, bits int, "
    "lossless_exact boolean, sample_sum bigint"
)


def _q_nef_compressed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nikon-compressed NEF (Compression 34713, VERDICT r7 next#6)
    end-to-end: the encoder emits the lossless configuration
    (ver 0x46 linearization table inside a real MakerNote walk:
    IFD0 -> ExifIFD -> MakerNote -> embedded TIFF -> tag 0x0096),
    the decoder Huffman-decodes the vendor diff stream through
    decode_nef_packed's container dispatch — so the MakerNote walk,
    the canonical tree, the dual vertical seed predictors, and the
    diff arithmetic all sit under the hash gate, at both 12- and
    14-bit precision."""
    import numpy as np

    from . import rawvendor

    def row(d):
        h, w = d % 15 + 4, d % 19 + 4
        bits = (12, 14)[d % 2]
        y, x = np.mgrid[0:h, 0:w]
        arr = ((d * 17 + x * 101 + y * 577) % (1 << bits)).astype(np.uint16)
        nef = rawvendor.encode_nef_compressed(arr, bits=bits)
        dec = rawvendor.decode_nef_packed(nef)
        yield (d, w, h, bits, bool(np.array_equal(dec, arr)),
               int(dec.astype(np.int64).sum()))

    return per_doc(spark, sf_dir, NEFC_ROUNDTRIP_SCHEMA, row, mod=5, rem=4)


NEFC_ROUNDTRIP_DUCK = """
SELECT doc_id,
       CAST(doc_id % 19 + 4 AS INT) AS width,
       CAST(doc_id % 15 + 4 AS INT) AS height,
       CAST(CASE doc_id % 2 WHEN 0 THEN 12 ELSE 14 END AS INT) AS bits,
       TRUE AS lossless_exact,
       CAST((
         SELECT sum((doc_id * 17 + x.x * 101 + y.y * 577)
                    % (1 << CASE doc_id % 2 WHEN 0 THEN 12 ELSE 14 END))
         FROM (SELECT unnest(generate_series(0, doc_id % 19 + 3)) AS x) x,
              (SELECT unnest(generate_series(0, doc_id % 15 + 3)) AS y) y
       ) AS BIGINT) AS sample_sum
FROM documents
WHERE doc_id % 5 = 4
"""


ARW_ROUNDTRIP_SCHEMA = (
    "doc_id long, width int, height int, bits int, n_strips int, "
    "lossless_exact boolean, sample_sum bigint"
)


def _q_arw_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sony ARW (TIFF-EP, VERDICT r7 next#2) driven end-to-end on
    self-produced bytes: varies 12/14/16-bit packing AND rows_per_strip
    1..4, so the multi-strip independently-byte-aligned unpacking
    (TIFF 6.0 §3 — the ADVICE r7 desync fix) sits under the hash gate;
    odd widths at 12/14 bits make most strip payloads non-sample-
    aligned, exactly the case a continuous-bitstream unpack would
    corrupt. Registry-path assertion is skipped when an optional RAW
    library has claimed 'arw' (same policy as CR2)."""
    import numpy as np

    from . import binary, optional_codecs, rawvendor

    def row(d):
        h, w = d % 17 + 5, d % 13 + 5
        bits = (12, 14, 16)[d % 3]
        rps = d % 4 + 1
        y, x = np.mgrid[0:h, 0:w]
        arr = ((d * 13 + x * 211 + y * 397) % (1 << bits)).astype(np.uint16)
        arw = rawvendor.encode_arw_uncompressed(
            arr, bits=bits, rows_per_strip=rps
        )
        dec = rawvendor.decode_arw(arw)
        ok = bool(np.array_equal(dec, arr))
        if "arw" not in optional_codecs.REGISTERED:
            disp = binary.decode_any("arw", arw)
            ok = ok and bool(
                np.array_equal(disp[:, :, 0], (arr >> 8).astype(np.uint8))
            )
        yield (d, w, h, bits, (h + rps - 1) // rps, ok,
               int(dec.astype(np.int64).sum()))

    return per_doc(spark, sf_dir, ARW_ROUNDTRIP_SCHEMA, row, mod=4, rem=3,
                   sized=True)


ARW_ROUNDTRIP_DUCK = """
SELECT doc_id,
       CAST(doc_id % 13 + 5 AS INT) AS width,
       CAST(doc_id % 17 + 5 AS INT) AS height,
       CAST(CASE doc_id % 3 WHEN 0 THEN 12 WHEN 1 THEN 14 ELSE 16 END
            AS INT) AS bits,
       CAST((doc_id % 17 + 5 + doc_id % 4) // (doc_id % 4 + 1)
            AS INT) AS n_strips,
       TRUE AS lossless_exact,
       CAST((
         SELECT sum((doc_id * 13 + x.x * 211 + y.y * 397)
                    % (1 << CASE doc_id % 3 WHEN 0 THEN 12
                            WHEN 1 THEN 14 ELSE 16 END))
         FROM (SELECT unnest(generate_series(0, doc_id % 13 + 4)) AS x) x,
              (SELECT unnest(generate_series(0, doc_id % 17 + 4)) AS y) y
       ) AS BIGINT) AS sample_sum
FROM documents
WHERE doc_id % 4 = 3
"""


ARW2_ROUNDTRIP_SCHEMA = (
    "doc_id long, width int, height int, n_blocks int, "
    "lossless_exact boolean, sample_sum bigint"
)


def _q_arw_compressed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sony ARW2 block coding (Compression 32767) end-to-end: the
    encoder emits only exactly-representable blocks, the test pattern
    keeps every 16-pixel block's spread under 0x80 (sh=0, exact), so
    the decoder's 32-bit header unpack, even/odd column interleave,
    and delta arithmetic all sit under the hash gate."""
    import numpy as np

    from . import rawvendor

    def row(d):
        h, w = d % 9 + 2, 32 * (d % 3 + 1)
        y, x = np.mgrid[0:h, 0:w]
        # per-row base + small per-column ripple: block spread
        # <= 100 < 0x80 keeps every block in the exact subset
        arr = ((d * 19 + y * 37) % 1800 + (x * 7) % 101).astype(np.uint16)
        dec = rawvendor.decode_arw(rawvendor.encode_arw_compressed(arr))
        yield (d, w, h, h * w // 16, bool(np.array_equal(dec, arr)),
               int(dec.astype(np.int64).sum()))

    return per_doc(spark, sf_dir, ARW2_ROUNDTRIP_SCHEMA, row, mod=5, rem=1,
                   sized=True)


ARW2_ROUNDTRIP_DUCK = """
SELECT doc_id,
       CAST(32 * (doc_id % 3 + 1) AS INT) AS width,
       CAST(doc_id % 9 + 2 AS INT) AS height,
       CAST((doc_id % 9 + 2) * 32 * (doc_id % 3 + 1) // 16 AS INT)
           AS n_blocks,
       TRUE AS lossless_exact,
       CAST((
         SELECT sum((doc_id * 19 + y.y * 37) % 1800 + (x.x * 7) % 101)
         FROM (SELECT unnest(generate_series(0, 32 * (doc_id % 3 + 1) - 1))
               AS x) x,
              (SELECT unnest(generate_series(0, doc_id % 9 + 1)) AS y) y
       ) AS BIGINT) AS sample_sum
FROM documents
WHERE doc_id % 5 = 1
"""


QUERIES = {
    "mm_dng_lossless_roundtrip": _q_dng_roundtrip,
    "mm_dng_tiled_roundtrip": _q_dng_tiled_roundtrip,
    "mm_cr2_lossless_roundtrip": _q_cr2_roundtrip,
    "mm_nef_packed_roundtrip": _q_nef_roundtrip,
    "mm_nef_compressed_roundtrip": _q_nef_compressed_roundtrip,
    "mm_arw_roundtrip": _q_arw_roundtrip,
    "mm_arw_compressed_roundtrip": _q_arw_compressed_roundtrip,
}
ORACLES = {
    "mm_dng_lossless_roundtrip": DNG_ROUNDTRIP_DUCK,
    "mm_dng_tiled_roundtrip": DNG_TILED_DUCK,
    "mm_cr2_lossless_roundtrip": CR2_ROUNDTRIP_DUCK,
    "mm_nef_packed_roundtrip": NEF_ROUNDTRIP_DUCK,
    "mm_nef_compressed_roundtrip": NEFC_ROUNDTRIP_DUCK,
    "mm_arw_roundtrip": ARW_ROUNDTRIP_DUCK,
    "mm_arw_compressed_roundtrip": ARW2_ROUNDTRIP_DUCK,
}
