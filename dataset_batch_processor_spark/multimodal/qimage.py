"""Standard image-codec roundtrip queries (PNG incl. interlaced and
bit depths, JPEG baseline/progressive/12-bit, WebP lossless + VP8
lossy, HEIF, BMP depth matrix, resize, and the 4-hop format-convert
chain). Split out of multimodal/queries.py in round 10; the codec
implementations live in png.py/jpeg.py/webp.py/vp8.py/binary.py —
this module is the query glue that drives them through the hash gate
on deterministic per-doc fixtures.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .qcommon import per_doc



# -------------------------------------------------- real-codec roundtrip
# Unlike mm_decode_meta's fake decoder, this drives the REAL PNG codec
# (multimodal/png.py) under the driver's hash gate: each doc_id yields a
# deterministic gradient image, encoded with filter type doc_id % 5 (so
# all five PNG filters are exercised), decoded back through the codec
# registry, and checksummed pixel-by-pixel. The DuckDB oracle recomputes
# the checksum in closed form — a hash match proves the encode -> decode
# roundtrip preserved every pixel of every image.

PNG_ROUNDTRIP_SCHEMA = "doc_id long, width int, height int, pix_sum bigint"


def _q_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import binary, png

    def row(d):
        w, h = d % 16 + 4, d % 13 + 4
        y, x, c = np.mgrid[0:h, 0:w, 0:3]
        arr = ((d + 3 * x + 7 * y + 11 * c) % 256).astype(np.uint8)
        dec = binary.decode_any("png", png.encode_png(arr, filter_type=d % 5))
        yield (d, int(dec.shape[1]), int(dec.shape[0]),
               int(dec.astype(np.int64).sum()))

    return per_doc(spark, sf_dir, PNG_ROUNDTRIP_SCHEMA, row)


PNG_ROUNDTRIP_DUCK = """
SELECT doc_id,
       CAST(doc_id % 16 + 4 AS INT) AS width,
       CAST(doc_id % 13 + 4 AS INT) AS height,
       CAST(list_sum(list_transform(generate_series(0, doc_id % 13 + 3), y ->
         list_sum(list_transform(generate_series(0, doc_id % 16 + 3), x ->
           list_sum(list_transform([0,1,2], c ->
             (doc_id + 3*x + 7*y + 11*c) % 256)))))) AS BIGINT) AS pix_sum
FROM documents
"""

# Adam7 variant of the PNG roundtrip (VERDICT r6 next#2): same
# closed-form gradient, but encoded INTERLACED with filter doc_id % 5,
# and dims run down to 1x1 (w in 1..16, h in 1..13) so geometries with
# EMPTY interlace passes (w<5 kills pass 2, h<5 kills pass 3, ...) are
# all under the hash gate, not just the happy path. The oracle is the
# same pixel-sum recomputation — interlacing must be a pure byte-layout
# change, invisible in decoded pixels.


def _q_png_interlaced_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import binary, png

    def row(d):
        w, h = d % 16 + 1, d % 13 + 1
        y, x, c = np.mgrid[0:h, 0:w, 0:3]
        arr = ((d + 3 * x + 7 * y + 11 * c) % 256).astype(np.uint8)
        data = png.encode_png(arr, filter_type=d % 5, interlace=True)
        dec = binary.decode_any("png", data)
        yield (d, int(dec.shape[1]), int(dec.shape[0]),
               int(dec.astype(np.int64).sum()))

    return per_doc(spark, sf_dir, PNG_ROUNDTRIP_SCHEMA, row)


PNG_INTERLACED_ROUNDTRIP_DUCK = """
SELECT doc_id,
       CAST(doc_id % 16 + 1 AS INT) AS width,
       CAST(doc_id % 13 + 1 AS INT) AS height,
       CAST(list_sum(list_transform(generate_series(0, doc_id % 13), y ->
         list_sum(list_transform(generate_series(0, doc_id % 16), x ->
           list_sum(list_transform([0,1,2], c ->
             (doc_id + 3*x + 7*y + 11*c) % 256)))))) AS BIGINT) AS pix_sum
FROM documents
"""

# JPEG is lossy, so (unlike PNG/WAV) the oracle can't recompute pixel
# sums — instead the Spark kernel asserts the reconstruction-error
# bound per image (same pattern as the HLL sketch oracle): dims must
# match exactly, max|decoded - original| <= 8 at quality 85 on smooth
# gradients. The codec is fully deterministic, so the booleans are
# stable and the hash gate makes this a real per-row check.

JPEG_ROUNDTRIP_SCHEMA = (
    "doc_id long, width int, height int, within_tol boolean"
)


def _q_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import binary, jpeg

    def row(d):
        w, h = d % 24 + 8, d % 17 + 8
        y, x = np.mgrid[0:h, 0:w]
        # smooth ramps only (no modular wrap): wrap edges ring
        # under DCT quantization and break the error bound
        arr = np.stack(
            [x * 3 + d % 100, y * 4 + d % 80, x + y + d % 50], axis=2
        ).astype(np.uint8)
        dec = binary.decode_any("jpg", jpeg.encode_jpeg(arr, quality=85))
        err = int(np.abs(dec.astype(int) - arr.astype(int)).max())
        yield d, int(dec.shape[1]), int(dec.shape[0]), bool(err <= 8)

    return per_doc(spark, sf_dir, JPEG_ROUNDTRIP_SCHEMA, row)


JPEG_ROUNDTRIP_DUCK = """
SELECT doc_id,
       CAST(doc_id % 24 + 8 AS INT) AS width,
       CAST(doc_id % 17 + 8 AS INT) AS height,
       TRUE AS within_tol
FROM documents
"""

# Progressive (SOF2) variant: same gradient fixture family, encoded
# with the T.81 Annex G scan script (DC/AC first + successive-
# approximation refinement, EOB runs) and decoded through the
# progressive scan assembler. The strongest available invariant rides
# along: the progressive and BASELINE encoders share the quant
# pipeline, so both streams must decode bit-identically (prog_eq_base)
# — hash-gated per row, not just an error bound.

PROG_ROUNDTRIP_SCHEMA = (
    "doc_id long, width int, height int, within_tol boolean, prog_eq_base boolean"
)


def _q_progressive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import binary, jpeg

    def row(d):
        w, h = d % 21 + 6, d % 15 + 6
        y, x = np.mgrid[0:h, 0:w]
        arr = np.stack(
            [x * 3 + d % 100, y * 4 + d % 80, x + y + d % 50], axis=2
        ).astype(np.uint8)
        prog = binary.decode_any(
            "jpg", jpeg.encode_jpeg_progressive(arr, quality=85)
        )
        base = binary.decode_any("jpg", jpeg.encode_jpeg(arr, quality=85))
        err = int(np.abs(prog.astype(int) - arr.astype(int)).max())
        yield (d, int(prog.shape[1]), int(prog.shape[0]), bool(err <= 8),
               bool(np.array_equal(prog, base)))

    return per_doc(spark, sf_dir, PROG_ROUNDTRIP_SCHEMA, row)


PROG_ROUNDTRIP_DUCK = """
SELECT doc_id,
       CAST(doc_id % 21 + 6 AS INT) AS width,
       CAST(doc_id % 15 + 6 AS INT) AS height,
       TRUE AS within_tol,
       TRUE AS prog_eq_base
FROM documents
"""

# Resize stage under the hash gate: decode (real PNG codec) ->
# nearest-neighbor resize to a fixed 8x8 thumbnail (binary.
# resize_nearest: src row = y*h//8, src col = x*w//8 — pure integer
# index math) -> re-encode -> decode -> checksum. The DuckDB oracle
# replays the same integer index arithmetic in closed form over the
# deterministic gradient, so a hash match proves decode, the resize
# kernel's index selection, AND the second encode/decode roundtrip.

RESIZE_ROUNDTRIP_SCHEMA = "doc_id long, width int, height int, pix_sum bigint"

RESIZE_OUT = 8


def _q_resize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import binary, png

    def row(d):
        w, h = d % 16 + 4, d % 13 + 4
        y, x, c = np.mgrid[0:h, 0:w, 0:3]
        arr = ((d + 3 * x + 7 * y + 11 * c) % 256).astype(np.uint8)
        small = binary.resize_nearest(
            binary.decode_any("png", png.encode_png(arr)),
            RESIZE_OUT,
            RESIZE_OUT,
        )
        dec = binary.decode_any("png", png.encode_png(small))
        yield (d, int(dec.shape[1]), int(dec.shape[0]),
               int(dec.astype(np.int64).sum()))

    return per_doc(spark, sf_dir, RESIZE_ROUNDTRIP_SCHEMA, row)


RESIZE_ROUNDTRIP_DUCK = f"""
SELECT doc_id,
       CAST({RESIZE_OUT} AS INT) AS width,
       CAST({RESIZE_OUT} AS INT) AS height,
       CAST(list_sum(list_transform(generate_series(0, {RESIZE_OUT - 1}), y ->
         list_sum(list_transform(generate_series(0, {RESIZE_OUT - 1}), x ->
           list_sum(list_transform([0,1,2], c ->
             (doc_id + 3 * ((x * (doc_id % 16 + 4)) // {RESIZE_OUT})
                     + 7 * ((y * (doc_id % 13 + 4)) // {RESIZE_OUT})
                     + 11 * c) % 256)))))) AS BIGINT) AS pix_sum
FROM documents
"""

# WebP analogue of the PNG roundtrip: VP8L is lossless, so the DuckDB
# oracle recomputes the pixel checksum in closed form; a hash match
# proves encode_webp -> (registry-sniffed) decode preserved every
# pixel. Alternates the subtract-green transform by doc parity so
# both encoder paths run under the driver gate.

WEBP_ROUNDTRIP_SCHEMA = "doc_id long, width int, height int, pix_sum bigint"


def _q_webp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import binary, webp

    def row(d):
        w, h = d % 11 + 3, d % 7 + 3
        y, x, c = np.mgrid[0:h, 0:w, 0:3]
        arr = ((d + 5 * x + 9 * y + 13 * c) % 256).astype(np.uint8)
        data = webp.encode_webp(arr, subtract_green=bool(d % 2))
        dec = binary.decode_any("xyz", data)  # sniffed, not ext
        yield (d, int(dec.shape[1]), int(dec.shape[0]),
               int(dec.astype(np.int64).sum()))

    return per_doc(spark, sf_dir, WEBP_ROUNDTRIP_SCHEMA, row)


WEBP_ROUNDTRIP_DUCK = """
SELECT doc_id,
       CAST(doc_id % 11 + 3 AS INT) AS width,
       CAST(doc_id % 7 + 3 AS INT) AS height,
       CAST(list_sum(list_transform(generate_series(0, doc_id % 7 + 2), y ->
         list_sum(list_transform(generate_series(0, doc_id % 11 + 2), x ->
           list_sum(list_transform([0,1,2], c ->
             (doc_id + 5*x + 9*y + 13*c) % 256)))))) AS BIGINT) AS pix_sum
FROM documents
"""

# Tile MATERIALIZATION (G1b) under the hash gate: the pixel stage that
# tile_grid computes geometry for. Per doc: deterministic gradient ->
# real PNG encode -> tile_grid geometry (the same operator the tile_grid
# queries verify) -> materialize_tiles (registry decode, crop, Extend
# Edges pad, rawrgb re-encode) -> rawrgb decode -> per-tile pixel sum.
# The DuckDB oracle reuses tile_grid_sql for the geometry and replays
# crop+edge-pad in closed form: pixel (y,x,c) of the padded tile is the
# gradient at (min(top+ty, bottom-1), min(left+tx, right-1)) — edge
# replication IS coordinate clamping to the crop box.

# ------------------------------------------------- VP8 lossy roundtrip
# Same pattern for the VP8 (RFC 6386) keyframe codec: a deterministic
# smooth fixture per doc_id, encoded at a doc-dependent quantizer with
# the 4x4 (B_PRED) path exercised on three of every four docs, decoded
# back through the pure-Python decoder. The hash-gated invariant is the
# strongest the codec defines: the decoder's YUV planes must equal the
# encoder's own reconstruction BIT-FOR-BIT (recon_exact) — the same
# equality the libwebp interop tests in tests/test_vp8.py pin against
# the reference implementation — plus a quality bound vs the source.

VP8_ROUNDTRIP_SCHEMA = (
    "doc_id long, width int, height int, recon_exact boolean, "
    "within_tol boolean, anmf_exact boolean"
)


def _q_vp8_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """...plus the S5 animated-lossy corner (round 9, VERDICT r8 next
    #8): every stream is ALSO wrapped as the first ANMF frame of an
    animated WebP container and decoded through webp.decode_webp —
    ``anmf_exact`` gates that the container walk routes an
    ANMF-wrapped VP8 (not just VP8L) payload to the keyframe decoder
    bit-exactly."""
    import struct as _struct

    import numpy as np

    from . import vp8, webp

    def row(d):
        w, h = d % 24 + 16, d % 17 + 16
        y, x = np.mgrid[0:h, 0:w]
        arr = np.stack(
            [x * 3 + d % 100, y * 4 + d % 80, x + y + d % 50], axis=2
        ).astype(np.uint8)
        stream, recon = vp8.encode_vp8_with_recon(
            arr, qi=20 + d % 30, bpred_every=d % 4
        )
        dec = vp8.decode_vp8_yuv(stream)
        exact = all(np.array_equal(a, b) for a, b in zip(dec, recon))
        ysrc, _, _ = vp8.rgb_to_yuv420(arr)
        err = int(np.abs(dec[0].astype(int) - ysrc.astype(int)).max())
        # animated-WebP first frame: ANMF(16-byte header + VP8)
        frame = b"VP8 " + _struct.pack("<I", len(stream)) + stream
        if len(stream) & 1:
            frame += b"\x00"
        anmf_payload = bytes(16) + frame
        anmf = b"ANMF" + _struct.pack("<I", len(anmf_payload)) + anmf_payload
        body = b"WEBP" + anmf
        riff = b"RIFF" + _struct.pack("<I", len(body)) + body
        anmf_rgb = webp.decode_webp(riff)
        anmf_exact = np.array_equal(anmf_rgb, vp8.yuv420_to_rgb(*recon))
        yield d, w, h, bool(exact), bool(err <= 24), bool(anmf_exact)

    return per_doc(spark, sf_dir, VP8_ROUNDTRIP_SCHEMA, row)


VP8_ROUNDTRIP_DUCK = """
SELECT doc_id,
       CAST(doc_id % 24 + 16 AS INT) AS width,
       CAST(doc_id % 17 + 16 AS INT) AS height,
       TRUE AS recon_exact,
       TRUE AS within_tol,
       TRUE AS anmf_exact
FROM documents
"""


# --------------------------------------------- HEIC/AVIF roundtrip
# The reference's iPhone-dump format driven END TO END through the
# system libheif binding (optional_codecs.libheif_encode_rgb +
# registry decode): per doc, encode the deterministic smooth fixture
# with the library's HEVC encoder AND its AV1 encoder, decode both
# through decode_any, and gate dims + a lossy tolerance (worst
# measured error over the fixture id lattice is 6/255 at quality 95;
# the bound is 12). Requires the system libheif the driver container
# ships — on an install without it the codecs raise into quarantine
# and this row goes red, which is the honest signal (the capability
# genuinely is absent there). Every 8th doc only: x265 costs
# ~100-200 ms per call under full-width contention (it is a video
# encoder), and a capability gate needs coverage of the id lattice,
# not the whole corpus (measured 33 s unsampled -> ~4 s at sf0.1).

HEIF_ROUNDTRIP_SCHEMA = (
    "doc_id long, width int, height int, heic_ok boolean, avif_ok boolean"
)


def _q_heif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import binary
    from . import optional_codecs as oc

    def row(d):
        w, h = d % 24 + 16, d % 17 + 16
        y, x = np.mgrid[0:h, 0:w]
        arr = np.stack(
            [x * 3 + d % 100, y * 4 + d % 80, x + y + d % 50], axis=2
        ).astype(np.uint8)
        oks = {}
        for fmt in ("heic", "avif"):
            dec = binary.decode_any(
                fmt, oc.libheif_encode_rgb(arr, fmt, quality=95)
            )
            err = int(np.abs(dec.astype(int) - arr.astype(int)).max())
            oks[fmt] = dec.shape == arr.shape and err <= 12
        yield d, w, h, bool(oks["heic"]), bool(oks["avif"])

    return per_doc(spark, sf_dir, HEIF_ROUNDTRIP_SCHEMA, row, mod=8)


HEIF_ROUNDTRIP_DUCK = """
SELECT doc_id,
       CAST(doc_id % 24 + 16 AS INT) AS width,
       CAST(doc_id % 17 + 16 AS INT) AS height,
       TRUE AS heic_ok,
       TRUE AS avif_ok
FROM documents
WHERE doc_id % 8 = 0
"""
PNG_DEPTHS_SCHEMA = (
    "doc_id long, depth int, ctype int, interlaced boolean, "
    "lossless_exact boolean, pix_sum bigint"
)


def _q_png_depths_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-depth PNG coverage (round 8): every spec-valid depth
    branch — 1/2/4-bit gray (scaled to 8-bit like PIL convert('L')),
    4-bit palette, 16-bit gray and RGB (top-byte tone map) — each
    encoded with encode_png_ex, decoded through the REGISTRY path,
    compared against the closed-form expected display, at both
    sequential and Adam7 interlace. A mis-unpacked bit plane, wrong
    scale factor, or palette mis-index cannot hash green."""
    import numpy as np

    from . import binary
    from . import png as pngmod

    def row(d):
        h, w = d % 11 + 3, d % 9 + 3
        branch = d % 6
        interlace = bool(d % 2)
        y, x = np.mgrid[0:h, 0:w]
        base = d * 13 + x * 29 + y * 53
        if branch <= 2:          # sub-byte gray
            depth, ctype = (1, 2, 4)[branch], 0
            v = (base % (1 << depth)).astype(np.uint8)
            data = pngmod.encode_png_ex(
                v, depth=depth, ctype=ctype, interlace=interlace
            )
            disp = (
                v.astype(np.uint16) * 255 // ((1 << depth) - 1)
            ).astype(np.uint8)
            expect = np.repeat(disp[:, :, None], 3, axis=2)
        elif branch == 3:        # 4-bit palette
            depth, ctype = 4, 3
            idx = (base % 16).astype(np.uint8)
            plte = np.stack(
                [((d * 7 + np.arange(16) * 31) % 256)] * 3, axis=1
            ).astype(np.uint8)
            data = pngmod.encode_png_ex(
                idx, depth=depth, ctype=ctype, plte=plte, interlace=interlace,
            )
            expect = plte[idx]
        elif branch == 4:        # 16-bit gray
            depth, ctype = 16, 0
            v = (base % 65536).astype(np.uint16)
            data = pngmod.encode_png_ex(
                v, depth=depth, ctype=ctype, interlace=interlace
            )
            expect = np.repeat(
                (v >> 8).astype(np.uint8)[:, :, None], 3, axis=2
            )
        else:                    # 16-bit RGB
            depth, ctype = 16, 2
            c = np.arange(3)
            v = ((base[:, :, None] + c * 77) % 65536).astype(np.uint16)
            data = pngmod.encode_png_ex(
                v, depth=depth, ctype=ctype, interlace=interlace
            )
            expect = (v >> 8).astype(np.uint8)
        dec = binary.decode_any("png", data)
        yield (d, depth, ctype, interlace, bool(np.array_equal(dec, expect)),
               int(dec.astype(np.int64).sum()))

    return per_doc(spark, sf_dir, PNG_DEPTHS_SCHEMA, row, mod=3, rem=1,
                   sized=True)


PNG_DEPTHS_DUCK = """
SELECT doc_id,
       CAST(CASE doc_id % 6 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
            WHEN 3 THEN 4 ELSE 16 END AS INT) AS depth,
       CAST(CASE WHEN doc_id % 6 = 3 THEN 3
                 WHEN doc_id % 6 = 5 THEN 2 ELSE 0 END AS INT) AS ctype,
       doc_id % 2 = 1 AS interlaced,
       TRUE AS lossless_exact,
       CAST((
         SELECT sum(CASE
           WHEN doc_id % 6 <= 2 THEN
             3 * (((doc_id * 13 + x.x * 29 + y.y * 53)
                   % (1 << (CASE doc_id % 6 WHEN 0 THEN 1
                            WHEN 1 THEN 2 ELSE 4 END))) * 255
                  // ((1 << (CASE doc_id % 6 WHEN 0 THEN 1
                             WHEN 1 THEN 2 ELSE 4 END)) - 1))
           WHEN doc_id % 6 = 3 THEN
             3 * ((doc_id * 7
                   + ((doc_id * 13 + x.x * 29 + y.y * 53) % 16) * 31)
                  % 256)
           WHEN doc_id % 6 = 4 THEN
             3 * (((doc_id * 13 + x.x * 29 + y.y * 53) % 65536) // 256)
           ELSE
             ((doc_id * 13 + x.x * 29 + y.y * 53) % 65536) // 256
             + ((doc_id * 13 + x.x * 29 + y.y * 53 + 77) % 65536) // 256
             + ((doc_id * 13 + x.x * 29 + y.y * 53 + 154) % 65536) // 256
         END)
         FROM (SELECT unnest(generate_series(0, doc_id % 9 + 2)) AS x) x,
              (SELECT unnest(generate_series(0, doc_id % 11 + 2)) AS y) y
       ) AS BIGINT) AS pix_sum
FROM documents
WHERE doc_id % 3 = 1
"""


BMP_DEPTHS_SCHEMA = (
    "doc_id long, bpp int, compression int, core boolean, "
    "top_down boolean, lossless_exact boolean, pix_sum bigint"
)


def _q_bmp_depths_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-depth BMP coverage (round 8): every uncompressed branch
    the decoder supports — 1/4/8-bit palette, 24-bit BGR, 32-bit BGRA
    (alpha dropped), BI_RLE8 and BI_RLE4 compressed streams — across
    BOTH header generations (12-byte core / 40-byte info) and both
    row orders, each encoded with encode_bmp_ex / encode_bmp_rle,
    decoded through the REGISTRY path, and compared against the
    closed-form expected display. A nibble-order swap, palette-entry-
    width mix-up (3- vs 4-byte), BGR/RGB confusion, row-flip, or RLE
    run/escape bug cannot hash green."""
    import numpy as np

    from . import binary, codecs_extra

    def row(d):
        h, w = d % 8 + 2, d % 10 + 2
        branch = (d // 7) % 7
        y, x = np.mgrid[0:h, 0:w]
        c = np.arange(3)
        compression = (0, 0, 0, 0, 0, 1, 2)[branch]
        if branch <= 2 or branch >= 5:   # palette depths
            bpp = (8, 4, 1, 0, 0, 8, 4)[branch]
            core = branch == 1
            top_down = branch == 2
            n = 1 << bpp
            idx = ((d * 13 + x * 29 + y * 53) % n).astype(np.uint8)
            pal = (
                (d * 7 + np.arange(n)[:, None] * 31 + c * 59) % 256
            ).astype(np.uint8)
            if compression:
                data = codecs_extra.encode_bmp_rle(idx, pal, bpp=bpp)
            else:
                data = codecs_extra.encode_bmp_ex(
                    idx, bpp=bpp, palette=pal, core=core, top_down=top_down,
                )
            expect = pal[idx]
        else:
            rgb = (
                (d * 13 + x[:, :, None] * 29 + y[:, :, None] * 53 + c * 77)
                % 256
            ).astype(np.uint8)
            core = branch == 3
            top_down = branch == 4
            if branch == 3:      # 24-bit, core header
                bpp = 24
                data = codecs_extra.encode_bmp_ex(rgb, bpp=24, core=True)
            else:                # 32-bit BGRA, top-down
                bpp = 32
                alpha = ((d + x + y) % 256).astype(np.uint8)
                rgba = np.dstack([rgb, alpha])
                data = codecs_extra.encode_bmp_ex(rgba, bpp=32, top_down=True)
            expect = rgb
        dec = binary.decode_any("bmp", data)
        yield (d, bpp, compression, core, top_down,
               bool(np.array_equal(dec, expect)),
               int(dec.astype(np.int64).sum()))

    return per_doc(spark, sf_dir, BMP_DEPTHS_SCHEMA, row, mod=7)


BMP_DEPTHS_DUCK = """
WITH b AS (
  SELECT doc_id, (doc_id // 7) % 7 AS br
  FROM documents WHERE doc_id % 7 = 0
)
SELECT doc_id,
       CAST(CASE br WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 1
            WHEN 3 THEN 24 WHEN 4 THEN 32 WHEN 5 THEN 8 ELSE 4 END
            AS INT) AS bpp,
       CAST(CASE br WHEN 5 THEN 1 WHEN 6 THEN 2 ELSE 0 END
            AS INT) AS compression,
       br IN (1, 3) AS core,
       br IN (2, 4) AS top_down,
       TRUE AS lossless_exact,
       CAST((
         SELECT sum(CASE
           WHEN br <= 2 OR br >= 5 THEN
             (doc_id * 7
              + ((doc_id * 13 + x.x * 29 + y.y * 53)
                 % (CASE br WHEN 1 THEN 16 WHEN 2 THEN 2
                    WHEN 6 THEN 16 ELSE 256 END)) * 31
              + c.c * 59) % 256
           ELSE
             (doc_id * 13 + x.x * 29 + y.y * 53 + c.c * 77) % 256
         END)
         FROM (SELECT unnest(generate_series(0, doc_id % 10 + 1)) AS x) x,
              (SELECT unnest(generate_series(0, doc_id % 8 + 1)) AS y) y,
              (SELECT unnest(generate_series(0, 2)) AS c) c
       ) AS BIGINT) AS pix_sum
FROM b
"""


CONVERT_CHAIN_SCHEMA = (
    "doc_id long, chain string, lossless_exact boolean, pix_sum bigint"
)

_CONVERT_CHAINS = (
    ("png", "bmp", "ppm", "tiff"),
    ("tiff", "png", "webp", "bmp"),
    ("webp", "ppm", "tiff", "png"),
)


def _q_format_convert_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's headline conversion task
    (/root/reference/modules/other_tasks.py:29-67 — decode any, save
    as another format) driven as a CHAIN across every lossless codec
    in the registry: encode -> decode -> re-encode in the next format,
    four hops per document, three chain orders so each adjacent
    format pair appears. All hops are lossless codecs, so the final
    pixels must equal the closed-form source exactly — any
    channel-order, row-order, or depth drift at ANY registry boundary
    breaks the hash."""
    import numpy as np

    from . import binary

    def row(d):
        h, w = d % 9 + 3, d % 12 + 3
        chain = _CONVERT_CHAINS[d % 3]
        y, x = np.mgrid[0:h, 0:w]
        c = np.arange(3)
        arr0 = (
            (d * 11 + x[:, :, None] * 37 + y[:, :, None] * 71 + c * 13) % 256
        ).astype(np.uint8)
        arr = arr0
        for fmt in chain:
            arr = binary.decode_any(fmt, binary.ENCODERS[fmt](arr))
        yield (d, ">".join(chain), bool(np.array_equal(arr, arr0)),
               int(arr.astype(np.int64).sum()))

    return per_doc(spark, sf_dir, CONVERT_CHAIN_SCHEMA, row, mod=9, rem=5)


CONVERT_CHAIN_DUCK = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'png>bmp>ppm>tiff'
            WHEN 1 THEN 'tiff>png>webp>bmp'
            ELSE 'webp>ppm>tiff>png' END AS chain,
       TRUE AS lossless_exact,
       CAST((
         SELECT sum((doc_id * 11 + x.x * 37 + y.y * 71 + c.c * 13) % 256)
         FROM (SELECT unnest(generate_series(0, doc_id % 12 + 2)) AS x) x,
              (SELECT unnest(generate_series(0, doc_id % 9 + 2)) AS y) y,
              (SELECT unnest(generate_series(0, 2)) AS c) c
       ) AS BIGINT) AS pix_sum
FROM documents
WHERE doc_id % 9 = 5
"""


JPEG12_SCHEMA = (
    "doc_id long, width int, height int, quality int, within_tol boolean"
)


def _q_jpeg12_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-bit extended-sequential JPEG (SOF1, round 8 late): encode a
    smooth 12-bit gray ramp with the stream-derived flat Huffman
    tables, decode through the REGISTRY path (level shift 2048, clamp
    0..4095, top-byte display), compare against the closed-form ramp
    at display precision. Wrong level shift, clamp bound, DC category
    width, or tone-map shift cannot stay within the +-1 bound."""
    import numpy as np

    from . import binary, jpeg as jpegmod

    def row(d):
        h, w = d % 14 + 4, d % 21 + 4
        quality = (90, 95, 100)[d % 3]
        y, x = np.mgrid[0:h, 0:w]
        arr = (x * 60 + y * 70 + d % 1000).astype(np.uint16)
        data = jpegmod.encode_jpeg12_gray(arr, quality=quality)
        dec = binary.decode_any("jpg", data)
        exp = (arr >> 4).astype(np.uint8)
        err = int(np.abs(dec[:, :, 0].astype(int) - exp.astype(int)).max())
        gray_ok = bool(
            np.array_equal(dec[:, :, 0], dec[:, :, 1])
            and np.array_equal(dec[:, :, 0], dec[:, :, 2])
        )
        yield d, w, h, quality, bool(err <= 1 and gray_ok)

    return per_doc(spark, sf_dir, JPEG12_SCHEMA, row, mod=11, rem=4,
                   sized=True)


JPEG12_DUCK = """
SELECT doc_id,
       CAST(doc_id % 21 + 4 AS INT) AS width,
       CAST(doc_id % 14 + 4 AS INT) AS height,
       CAST(CASE doc_id % 3 WHEN 0 THEN 90 WHEN 1 THEN 95 ELSE 100 END
            AS INT) AS quality,
       TRUE AS within_tol
FROM documents
WHERE doc_id % 11 = 4
"""


QUERIES = {
    "mm_png_roundtrip": _q_png_roundtrip,
    "mm_png_interlaced_roundtrip": _q_png_interlaced_roundtrip,
    "mm_jpeg_roundtrip": _q_jpeg_roundtrip,
    "mm_progressive_roundtrip": _q_progressive_roundtrip,
    "mm_resize_roundtrip": _q_resize_roundtrip,
    "mm_webp_roundtrip": _q_webp_roundtrip,
    "mm_vp8_roundtrip": _q_vp8_roundtrip,
    "mm_heif_roundtrip": _q_heif_roundtrip,
    "mm_png_depths_roundtrip": _q_png_depths_roundtrip,
    "mm_bmp_depths_roundtrip": _q_bmp_depths_roundtrip,
    "mm_format_convert_chain": _q_format_convert_chain,
    "mm_jpeg12_roundtrip": _q_jpeg12_roundtrip,
}
ORACLES = {
    "mm_png_roundtrip": PNG_ROUNDTRIP_DUCK,
    "mm_png_interlaced_roundtrip": PNG_INTERLACED_ROUNDTRIP_DUCK,
    "mm_jpeg_roundtrip": JPEG_ROUNDTRIP_DUCK,
    "mm_progressive_roundtrip": PROG_ROUNDTRIP_DUCK,
    "mm_resize_roundtrip": RESIZE_ROUNDTRIP_DUCK,
    "mm_webp_roundtrip": WEBP_ROUNDTRIP_DUCK,
    "mm_vp8_roundtrip": VP8_ROUNDTRIP_DUCK,
    "mm_heif_roundtrip": HEIF_ROUNDTRIP_DUCK,
    "mm_png_depths_roundtrip": PNG_DEPTHS_DUCK,
    "mm_bmp_depths_roundtrip": BMP_DEPTHS_DUCK,
    "mm_format_convert_chain": CONVERT_CHAIN_DUCK,
    "mm_jpeg12_roundtrip": JPEG12_DUCK,
}


# -------------------------------------- LSB provenance watermark probe
# The image-side sibling of the text canary family (operators/
# canary.py): plant an invisible per-image payload, round-trip it
# through the REAL lossless codec, and verify recovery — the
# provenance/watermark plumbing a multimodal pipeline uses to track
# dataset membership (public anchors: classical LSB steganography;
# Zhu et al. 2018 "HiDDeN" for the learned variant this stubs the
# data path for). Per doc_id: the standard gradient fixture (>= 8x8
# so the 64-bit payload fits), payload = first 16 md5 hex chars of
# seed ':wm', bit j embedded in the LSB of channel 0 of row-major
# pixel j. The Spark side does the real embed -> encode_png ->
# decode -> extract and emits the RECOVERED payload plus the
# watermarked pixel sum; the oracle recomputes both in closed form
# (payload from the same md5, sum via the LSB-delta formula), so a
# hash match proves bit-exact embed/recover through the codec. The
# baseline column extracts the same positions from the CLEAN image —
# showing detection separates watermarked from unwatermarked pixels.

WATERMARK_SCHEMA = ("doc_id long, width int, height int, "
                    "payload_hex string, wm_pix_sum bigint, "
                    "baseline_match_bits int")


def _q_watermark_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import numpy as np

    from . import binary, png

    def row(d):
        w, h = d % 16 + 8, d % 13 + 8
        y, x, c = np.mgrid[0:h, 0:w, 0:3]
        arr = ((d + 3 * x + 7 * y + 11 * c) % 256).astype(np.uint8)
        hex16 = hashlib.md5(f"{d}:wm".encode()).hexdigest()[:16]
        bits = [(int(hex16[j // 4], 16) >> (3 - j % 4)) & 1 for j in range(64)]
        wm = arr.copy()
        flat = wm[:, :, 0].reshape(-1)
        flat[:64] = (flat[:64] & 0xFE) | np.array(bits, dtype=np.uint8)
        dec = binary.decode_any("png", png.encode_png(wm))
        got = (dec[:, :, 0].reshape(-1)[:64] & 1).tolist()
        rec_hex = "".join(
            f"{int(''.join(map(str, got[i:i + 4])), 2):x}"
            for i in range(0, 64, 4)
        )
        clean = binary.decode_any("png", png.encode_png(arr))
        base = (clean[:, :, 0].reshape(-1)[:64] & 1).tolist()
        yield (d, w, h, rec_hex, int(dec.astype(np.int64).sum()),
               int(sum(1 for b, g in zip(bits, base) if b == g)))

    return per_doc(spark, sf_dir, WATERMARK_SCHEMA, row)


# closed-form oracle: payload bits from the same md5; watermarked sum
# = gradient sum + sum(bit_j - lsb(orig_j)) over the 64 embed sites
# (channel 0, row-major); baseline matches = bits agreeing with the
# clean LSBs.
WATERMARK_DUCK = """
WITH base AS (
  SELECT doc_id,
         CAST(doc_id % 16 + 8 AS INT) AS w,
         CAST(doc_id % 13 + 8 AS INT) AS h,
         substr(md5(concat(doc_id, ':wm')), 1, 16) AS hex16
  FROM documents
),
bits AS (
  SELECT doc_id, w, h, hex16, j,
         (CAST(concat('0x', substr(hex16, j // 4 + 1, 1)) AS BIGINT)
          >> (3 - j % 4)) & 1 AS bit,
         ((doc_id + 3 * (j % w) + 7 * (j // w)) % 256) % 2 AS lsb0
  FROM base, LATERAL (SELECT unnest(generate_series(0, 63)) AS j)
),
delta AS (
  SELECT doc_id,
         CAST(sum(bit - lsb0) AS BIGINT) AS d_sum,
         CAST(sum(CASE WHEN bit = lsb0 THEN 1 ELSE 0 END) AS INT)
             AS baseline_match_bits
  FROM bits GROUP BY doc_id
),
grad AS (
  SELECT doc_id, w, h, hex16,
         CAST(list_sum(list_transform(generate_series(0, h - 1), y ->
           list_sum(list_transform(generate_series(0, w - 1), x ->
             list_sum(list_transform([0,1,2], c ->
               (doc_id + 3*x + 7*y + 11*c) % 256)))))) AS BIGINT) AS g_sum
  FROM base
)
SELECT g.doc_id, g.w AS width, g.h AS height,
       g.hex16 AS payload_hex,
       g.g_sum + d.d_sum AS wm_pix_sum,
       d.baseline_match_bits
FROM grad g JOIN delta d ON g.doc_id = d.doc_id
"""

QUERIES["mm_watermark_lsb_roundtrip"] = _q_watermark_roundtrip
ORACLES["mm_watermark_lsb_roundtrip"] = WATERMARK_DUCK
