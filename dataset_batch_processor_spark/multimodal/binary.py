"""Multimodal binary-column plumbing — decode / transform kernels.

Design: image/audio/video payloads are opaque ``binary`` columns with
typed metadata columns alongside. Every kernel is an Arrow-batched
``mapInPandas`` transformation with an explicit output schema, so the
Spark-side contract (schema, batch shape, partitioning) is real and
tested even where the actual codec is stubbed.

STUBS vs real: this container has numpy but no image codec libraries
(PIL/imageio/pillow-heif), so *decode* goes through a pluggable codec
registry. REAL pure-Python codecs (S3-S5/K1/P12 run end-to-end on
actual image bytes):

- ``png``  — full decode+encode (png.py, stdlib zlib);
- ``jpg``/``jpeg`` — baseline AND progressive (SOF2) DCT decode,
  baseline + progressive encode (jpeg.py, ITU-T T.81), the
  reference's default save format;
- ``webp`` — VP8L lossless decode+encode incl. animated first frame
  (webp.py); lossy VP8 stills decode through the pure-Python RFC
  6386 keyframe decoder (vp8.py, bit-exact vs libwebp);
- ``bmp``/``ppm`` — decode+encode (codecs_extra.py);
- ``gif``  — first-frame LZW decode (gif.py) = the reference's
  animated-first-frame semantics;
- ``tif``/``tiff``/``dng`` — uncompressed decode+encode (tiff.py);
- ``rawrgb`` — trivial deterministic container (12-byte header +
  raw uint8 HxWx3) used by tests and the synthetic pipeline;
- header-only dimension probes for PNG/JPEG/GIF (sources/images.py)
  which need no decoder at all.

Still stubbed (library-bound, NotImplementedError into quarantine,
mirroring /root/reference/modules/other_tasks.py:45-53,
batch_processor.py:346-357): HEIC/AVIF pixel decode — auto-wired to
pillow-heif/rawpy/imageio via optional_codecs.py when installed. The
whole camera-RAW family decodes pure-Python (rawvendor.py): lossless
CR2, packed AND Nikon-compressed (34713) NEF, uncompressed AND Sony
ARW2 block-compressed (32767) ARW; only the table-less 34713 edge
(no linearization table in the MakerNote) keeps a precise-reason
quarantine.

The pixel kernels themselves (crop G1, pad G2/G3, resize) are REAL
numpy code operating on decoded arrays — identical math to
tiling.py:12-18 — and run against rawrgb payloads in tests.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# ------------------------------------------------------------------ codecs

RAWRGB_MAGIC = b"RAW1"


def encode_rawrgb(arr: np.ndarray) -> bytes:
    """Deterministic toy container: magic + H + W + raw uint8 HxWx3."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    return RAWRGB_MAGIC + struct.pack(">II", h, w) + arr.tobytes()


def decode_rawrgb(content: bytes) -> np.ndarray:
    if content[:4] != RAWRGB_MAGIC:
        raise ValueError("not a rawrgb payload")
    h, w = struct.unpack(">II", content[4:12])
    return np.frombuffer(content[12:], dtype=np.uint8).reshape(h, w, 3)


def _missing_codec(fmt: str) -> Callable[[bytes], np.ndarray]:
    def decode(_content: bytes) -> np.ndarray:
        raise NotImplementedError(
            f"codec '{fmt}' requires an image library not present in this "
            "container (PIL/imageio/pillow-heif); register a decoder via "
            "register_codec() in a full deployment"
        )

    return decode


# S4 formats (RAW/HEIC) are registered so the dispatch path is
# exercised; their decoders are the documented stubs above.
# REAL pure-Python codecs (no third-party libs):
#   PNG  — full decode+encode (multimodal/png.py, stdlib zlib);
#   BMP  — full depth matrix decode (1/4/8-bit palette, 24/32 bpp,
#          core+info headers, RLE8/RLE4) + 24-bit encode
#          (codecs_extra.py);
#   PPM  — P6 decode any maxval 1..65535, encode maxval 255
#          (codecs_extra.py);
#   GIF  — first-frame LZW decode (gif.py), the reference's S5
#          animated-first-frame semantics.
from . import codecs_extra as _extra  # noqa: E402
from . import gif as _gif  # noqa: E402
from . import jpeg as _jpeg  # noqa: E402
from . import png as _png  # noqa: E402
from . import rawvendor as _rawvendor  # noqa: E402
from . import tiff as _tiff  # noqa: E402
from . import webp as _webp  # noqa: E402

CODECS: dict[str, Callable[[bytes], np.ndarray]] = {
    "rawrgb": decode_rawrgb,
    "png": _png.decode_png,
    "jpg": _jpeg.decode_jpeg,
    "jpeg": _jpeg.decode_jpeg,
    "bmp": _extra.decode_bmp,
    "ppm": _extra.decode_ppm,
    "gif": _gif.decode_gif,
    "tif": _tiff.decode_tiff,
    "tiff": _tiff.decode_tiff,
    # WebP: full VP8L (lossless) decode incl. animated first-frame;
    # lossy VP8 raises NotImplementedError with the reason.
    "webp": _webp.decode_webp,
    # DNG is a TIFF container: uncompressed DNGs decode via the plain
    # TIFF path and lossless-JPEG (Compression=7) DNGs through the
    # pure-Python T.81 SOF3 codec (multimodal/ljpeg.py) — no library
    # needed. Vendor-compressed variants still raise
    # NotImplementedError with the precise reason, and probe_tiff_dims
    # reads dims from ANY of the TIFF-based RAW family header-only.
    "dng": _tiff.decode_dng_display,
    # CR2/NEF: pure-Python container walk over the same SOF3 entropy
    # layer (multimodal/rawvendor.py) — sliced lossless-JPEG CR2,
    # packed 12/14/16-bit NEF, AND Nikon-compressed 34713 (MakerNote
    # Huffman trees + linearization walk) decode on a bare install;
    # only the table-less 34713 edge quarantines with its reason.
    # rawpy/imageio still auto-wire OVER these when installed.
    "cr2": _rawvendor.decode_cr2_display,
    "nef": _rawvendor.decode_nef_display,
    # ARW: Sony TIFF-EP over the same SubIFD walk — uncompressed
    # (Compression 1, 12/14/16-bit, multi-strip byte-aligned) AND
    # ARW2 block-compressed (32767, 16-byte/16-pixel max/min+delta
    # blocks) decode on a bare install; rawpy/imageio auto-wire OVER
    # these when present.
    "arw": _rawvendor.decode_arw_display,
    **{fmt: _missing_codec(fmt) for fmt in ("heic", "avif")},
}


def register_codec(fmt: str, decoder: Callable[[bytes], np.ndarray]) -> None:
    CODECS[fmt.lower()] = decoder


# Auto-wire optional public libraries (pillow-heif, rawpy, imageio)
# over the stubs when importable — the reference's process-wide
# pillow_heif.register_heif_opener() made automatic; a no-op in this
# container (optional_codecs.py docstring).
from . import optional_codecs as _opt  # noqa: E402

_opt.try_register_optional_codecs()


def _sniff_format(content: bytes) -> str | None:
    """Magic bytes -> registry key (the same robustness PIL gives the
    reference: content wins over the filename)."""
    if content[:4] == RAWRGB_MAGIC:
        return "rawrgb"
    if content[: len(_png.SIGNATURE)] == _png.SIGNATURE:
        return "png"
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if content[:2] == b"\xff\xd8":
        return "jpeg"
    if content[:2] == b"BM":
        return "bmp"
    if content[:2] == b"P6":
        return "ppm"
    if content[:4] == b"II*\x00" and content[8:10] == b"CR":
        return "cr2"  # Canon RAW 2: TIFF magic + CR marker at offset 8
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        return "webp"
    if content[4:8] == b"ftyp":  # ISOBMFF: HEIF/AVIF family
        brand = content[8:12]
        if brand in (b"avif", b"avis"):
            return "avif"
        if brand in (b"heic", b"heix", b"hevc", b"hevx", b"mif1", b"msf1"):
            return "heic"
    return None


# Extensions that are all TIFF containers under the same magic: the
# generic "tiff" sniff must NOT override one of these — the extension
# is the more specific claim (a .nef IS valid TIFF bytes, but the raw
# sensor lives behind SubIFDs the plain TIFF path never walks).
_TIFF_FAMILY = {"tif", "tiff", "dng", "nef", "cr2", "arw"}


def decode_any(fmt: str, content: bytes) -> np.ndarray:
    """Decode with content sniffing before extension dispatch. The
    sniff only picks the registry KEY — dispatch always goes through
    CODECS, so a codec installed via register_codec (e.g. a
    libjpeg-turbo binding that handles progressive JPEGs) overrides
    the built-in pure-Python decoders for sniffed content too."""
    key = _sniff_format(content) or fmt.lower()
    if key == "tiff" and fmt.lower() in _TIFF_FAMILY:
        key = fmt.lower()
    return CODECS[key](content)


# ------------------------------------------------------------- pixel kernels


def pad_extend_edges(arr: np.ndarray, tile_size: int) -> np.ndarray:
    """G2 'Extend Edges' (/root/reference/modules/tiling.py:12-18):
    replicate the last row/column out to tile_size × tile_size."""
    h, w = arr.shape[:2]
    pad_bottom, pad_right = max(0, tile_size - h), max(0, tile_size - w)
    if pad_bottom == 0 and pad_right == 0:
        return arr
    return np.pad(arr, ((0, pad_bottom), (0, pad_right), (0, 0)), mode="edge")


def pad_to_square(arr: np.ndarray, tile_size: int) -> np.ndarray:
    """G3 'Pad to Square' (/root/reference/modules/tiling.py:57-62):
    paste at (0,0) onto a black tile_size² canvas."""
    h, w = arr.shape[:2]
    canvas = np.zeros((tile_size, tile_size, arr.shape[2]), dtype=arr.dtype)
    canvas[: min(h, tile_size), : min(w, tile_size)] = arr[
        : min(h, tile_size), : min(w, tile_size)
    ]
    return canvas


def crop(arr: np.ndarray, left: int, top: int, right: int, bottom: int) -> np.ndarray:
    """The PIL ``im.crop(box)`` analogue (tiling.py:38-41 semantics)."""
    return arr[top:bottom, left:right]


def resize_nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize — numpy-only (no codec lib needed)."""
    h, w = arr.shape[:2]
    rows = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    cols = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return arr[rows][:, cols]


# ------------------------------------------------------- Spark plumbing

TILE_PIXELS_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("i", IntegerType()),
        StructField("j", IntegerType()),
        StructField("tile_w", IntegerType()),
        StructField("tile_h", IntegerType()),
        StructField("content", BinaryType()),
        StructField("error", StringType()),
    ]
)


_GEOM_COLS = ("id", "i", "j", "box_left", "box_top", "box_right", "box_bottom")
# Rows (and encoded bytes) the tile kernel buffers before it yields one
# output batch: one image's tiles can span several batches, so a
# 100k-tile image never builds one giant pandas frame.
_TILE_CHUNK_ROWS = 256
_TILE_CHUNK_BYTES = 32 << 20


def tiles_by_image(geom: DataFrame, content: DataFrame) -> DataFrame:
    """The tile kernel's input: ONE row per image, ``(id, tiles, fmt,
    content)``, where ``tiles`` is the array of the image's geometry
    structs (i, j, box_*, then every extra ``geom`` column).

    The exchange is per image, not per tile: a decode cannot be split,
    so a per-tile spread would decode the image again in every task its
    tile rows reach, and ship the image's bytes once per tile. Here the
    ~40-byte geometry rows are hash-partitioned on ``id`` (explicit
    ``defaultParallelism`` count, which AQE does not coalesce; keyed by
    the column alone it would merge a few-MB frame into one task) and
    grouped, and ``content`` is joined once. A sort-merge join moves
    ``content`` once onto those same partitions; when the grouped
    geometry is small enough to broadcast, ``content`` stays in its scan
    partitions and is never shuffled. Either way each image's bytes
    cross into Python once.
    """
    extra = [c for c in geom.columns if c not in _GEOM_COLS]
    n = geom.sparkSession.sparkContext.defaultParallelism
    grouped = (
        geom.repartition(n, F.col("id"))
        .groupBy("id")
        .agg(F.collect_list(F.struct(*_GEOM_COLS[1:], *extra)).alias("tiles"))
    )
    return grouped.join(content.select("id", "fmt", "content"), "id")


def materialize_tiles(geom: DataFrame, content: DataFrame, tile_size: int,
                      pad_option: str = "None") -> DataFrame:
    """Stage (b) of the tiling operator: crop (and pad) the pixel tiles
    that operators/tiling.py computed geometry for.

    ``geom``: one row per tile — id, i, j, box_left/top/right/bottom,
    plus any pass-through columns (e.g. tile_name, caption), which come
    back unchanged on the tile's output row. ``content``: one row per
    image — id, fmt, content. Output: id, i, j, tile_w, tile_h, content
    (rawrgb), error, then the pass-through columns. An image that fails
    to decode yields one error row per tile (F7 quarantine).

    One ``mapInPandas`` kernel over :func:`tiles_by_image` decodes each
    image once, then crops, pads and encodes all of its tiles.
    """
    extra = [geom.schema[c] for c in geom.columns if c not in _GEOM_COLS]
    schema = StructType(TILE_PIXELS_SCHEMA.fields + extra)
    names = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out: list[dict] = []
        size = 0
        for pdf in batches:
            for rid, fmt, data, tiles in zip(
                pdf["id"], pdf["fmt"], pdf["content"], pdf["tiles"]
            ):
                try:
                    arr, err = decode_any(fmt, bytes(data)), None
                except Exception as e:
                    arr, err = None, f"{type(e).__name__}: {e}"
                for t in tiles:
                    rec = {**t, "id": str(rid), "tile_w": None, "tile_h": None,
                           "content": None, "error": err}
                    if arr is not None:
                        try:
                            px = crop(arr, t["box_left"], t["box_top"],
                                      t["box_right"], t["box_bottom"])
                            if pad_option == "Extend Edges":
                                px = pad_extend_edges(px, tile_size)
                            elif pad_option == "Pad to Square":
                                px = pad_to_square(px, tile_size)
                            px = np.ascontiguousarray(px)
                            rec["tile_h"], rec["tile_w"] = px.shape[:2]
                            rec["content"] = encode_rawrgb(px)
                            size += len(rec["content"])
                        except Exception as e:
                            rec["error"] = f"{type(e).__name__}: {e}"
                    out.append(rec)
                    if len(out) >= _TILE_CHUNK_ROWS or size >= _TILE_CHUNK_BYTES:
                        yield pd.DataFrame(out, columns=names)
                        out, size = [], 0
        if out:
            yield pd.DataFrame(out, columns=names)

    return tiles_by_image(geom, content).mapInPandas(run, schema=schema)


# ----------------------------------------------------------- conversion

ENCODERS: dict[str, Callable[[np.ndarray], bytes]] = {
    "rawrgb": encode_rawrgb,
    "png": _png.encode_png,
    "jpg": _jpeg.encode_jpeg,
    "jpeg": _jpeg.encode_jpeg,
    "bmp": _extra.encode_bmp,
    "ppm": _extra.encode_ppm,
    "tif": _tiff.encode_tiff,
    "tiff": _tiff.encode_tiff,
    "webp": _webp.encode_webp,
}


def register_encoder(fmt: str, encoder: Callable[[np.ndarray], bytes]) -> None:
    ENCODERS[fmt.lower()] = encoder


CONVERT_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("src_fmt", StringType()),
        StructField("dst_fmt", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("content", BinaryType()),
        StructField("error", StringType()),
    ]
)


def convert_batch(binary_df: DataFrame, target_fmt: str) -> DataFrame:
    """Format conversion (other_tasks.py:29-67 semantics): decode by
    source format, re-encode to ``target_fmt``. Stub codecs and
    corrupt payloads are quarantined per row (F7), never fatal. A
    real deployment registers PIL/imageio codecs via register_codec/
    register_encoder; the plumbing below is identical either way."""
    tf = target_fmt.lower()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                rec = {"id": str(row.id), "src_fmt": row.fmt, "dst_fmt": tf,
                       "width": None, "height": None, "content": None,
                       "error": None}
                try:
                    arr = decode_any(row.fmt, bytes(row.content))
                    if tf not in ENCODERS:
                        raise NotImplementedError(
                            f"encoder '{tf}' not registered in this environment"
                        )
                    rec["height"], rec["width"] = int(arr.shape[0]), int(arr.shape[1])
                    rec["content"] = ENCODERS[tf](np.ascontiguousarray(arr))
                except Exception as e:
                    rec["error"] = f"{type(e).__name__}: {e}"
                out.append(rec)
            yield pd.DataFrame(out, columns=[f.name for f in CONVERT_SCHEMA.fields])

    return binary_df.mapInPandas(run, schema=CONVERT_SCHEMA)


def patchify_rgb(arr: np.ndarray, patch: int) -> np.ndarray:
    """(H, W, C) -> (H//patch, W//patch, patch, patch, C) ViT-style
    non-overlapping patch grid (Dosovitskiy et al. 2021 input
    pipeline). Dimensions must divide exactly — callers pad or resize
    first (pad_extend_edges / resize_nearest are the house tools);
    raising keeps a silent crop out of a training pipeline."""
    if arr.ndim != 3:
        raise ValueError(f"patchify_rgb expects (H, W, C), got {arr.shape}")
    h, w, c = arr.shape
    if h % patch or w % patch:
        raise ValueError(
            f"image {h}x{w} not divisible by patch {patch}; pad first"
        )
    return (
        arr.reshape(h // patch, patch, w // patch, patch, c)
        .transpose(0, 2, 1, 3, 4)
    )


def augment_views(arr: np.ndarray) -> dict[str, np.ndarray]:
    """The standard spatial augmentation set (training-time views):
    horizontal/vertical flip, 90-degree CCW rotation, and a centered
    half-crop. All pure index remapping — bit-exact, zero resampling
    — so each view is hash-gateable in closed form."""
    if arr.ndim != 3:
        raise ValueError(f"augment_views expects (H, W, C), got {arr.shape}")
    h, w = arr.shape[:2]
    return {
        "hflip": arr[:, ::-1],
        "vflip": arr[::-1],
        "rot90": np.rot90(arr),
        "crop": arr[h // 4: h // 4 + h // 2, w // 4: w // 4 + w // 2],
    }
