"""Image-folder sources — SURVEY.md §2.1 (S1-S5).

The reference scans a directory with ``os.listdir`` and an extension
suffix check (/root/reference/modules/filter_crop.py:36-40), then
opens each file with PIL one at a time. Spark mapping:

- S1: ``spark.read.format("binaryFile")`` with ``pathGlobFilter`` —
  the extension predicate pushes into the FILE LISTING, so excluded
  files are never opened (the distributed analogue of checking the
  name before ``Image.open``).
- S2: header-only metadata — a pandas UDF parses just the header
  bytes of ``content`` (dimensions for PNG/GIF/JPEG are in the first
  few hundred bytes); persisting the result as an ``images_meta``
  table means downstream geometry plans never touch pixel bytes —
  mirroring the reference's own open-close-immediately trick
  (filter_crop.py:44-46, comment at batch_processor.py:97).
- S3-S5: full decode goes through the multimodal codec registry
  (multimodal/binary.py); RAW/HEIC/animated-first-frame decoders are
  registered stubs in this container (no PIL/imageio wheels baked
  in), with the Spark-side plumbing fully real.

At 100 TB: binaryFile splits by file; ``images_meta`` (a few dozen
bytes/row) is the table every geometry query touches, while
``content`` stays in its own column family / table and is only read
by the pixel stages. Keep them separate so Catalyst's column pruning
does what the reference did by hand.
"""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions import scalar

GLOB = "*.{png,jpg,jpeg,heic,cr2,nef,arw,dng,PNG,JPG,JPEG,HEIC,CR2,NEF,ARW,DNG}"


def scan_image_folder(spark: SparkSession, folder: str) -> DataFrame:
    """S1: recursive binary scan with the F1 extension predicate pushed
    into the file listing."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", GLOB)
        .option("recursiveFileLookup", "true")
        .load(folder)
    )


def parse_png_header(content: bytes) -> tuple[int, int] | None:
    """Width/height from a PNG IHDR chunk (bytes 16-24) — pure-python,
    no decode. Returns None if not a PNG."""
    if len(content) >= 24 and content[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = struct.unpack(">II", content[16:24])
        return w, h
    return None


def parse_gif_header(content: bytes) -> tuple[int, int] | None:
    if len(content) >= 10 and content[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", content[6:10])
        return w, h
    return None


def parse_jpeg_header(content: bytes) -> tuple[int, int] | None:
    """Walk JPEG segments to the SOF marker; header-only, no decode.

    Strict: after SOI every marker position must hold 0xFF (fill 0xFF
    bytes allowed) and every segment length must be at least 2, so an
    SOI followed by junk never "parses" on a stray SOF-like byte pair
    inside the junk."""
    if len(content) < 4 or content[:2] != b"\xff\xd8":
        return None
    i = 2
    n = len(content)
    while i + 1 < n:
        if content[i] != 0xFF:
            return None
        if content[i + 1] == 0xFF:  # fill byte
            i += 1
            continue
        marker = content[i + 1]
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # no length field
            i += 2
            continue
        if marker in (0x00, 0xD8, 0xD9) or i + 4 > n:
            return None
        seg_len = struct.unpack(">H", content[i + 2 : i + 4])[0]
        if seg_len < 2:
            return None
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 > n:
                return None
            h, w = struct.unpack(">HH", content[i + 5 : i + 9])
            return w, h
        i += 2 + seg_len
    return None


def parse_rawrgb_header(content: bytes) -> tuple[int, int] | None:
    """Dims from the engine's own rawrgb toy container
    (multimodal/binary.py) — lets the full pipeline run end-to-end in
    environments without image codec libraries."""
    if len(content) >= 12 and content[:4] == b"RAW1":
        h, w = struct.unpack(">II", content[4:12])
        return w, h
    return None


def parse_tiff_header(content: bytes) -> tuple[int, int] | None:
    """Dims from the first TIFF IFD — covers .tif/.tiff AND the
    TIFF-based camera-RAW containers (DNG/CR2/NEF/ARW): the S2
    header-only dimension read works on RAW files even where full
    pixel development is library-bound."""
    if len(content) < 8 or content[:4] not in (b"II*\x00", b"MM\x00*"):
        return None
    try:
        from ..multimodal.tiff import probe_tiff_dims

        return probe_tiff_dims(content)
    except Exception:
        return None


def parse_webp_header(content: bytes) -> tuple[int, int] | None:
    """Dims from the WebP container without decoding: VP8X carries
    24-bit canvas dims; a bare VP8L stream carries 14-bit dims in its
    5-byte header."""
    if len(content) < 21 or content[:4] != b"RIFF" or content[8:12] != b"WEBP":
        return None
    fourcc = content[12:16]
    if fourcc == b"VP8X" and len(content) >= 30:
        w = int.from_bytes(content[24:27], "little") + 1
        h = int.from_bytes(content[27:30], "little") + 1
        return w, h
    if fourcc == b"VP8L" and content[20] == 0x2F:
        bits = int.from_bytes(content[21:25], "little")
        return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
    return None


_HEADER_PARSERS = (
    parse_png_header,
    parse_jpeg_header,
    parse_gif_header,
    parse_tiff_header,
    parse_webp_header,
    parse_rawrgb_header,
)

# Formats whose dimensions sit at a fixed offset near the start of the
# file (PNG IHDR, GIF screen descriptor, WebP VP8X/VP8L header, rawrgb):
# for these only the first _HEADER_PREFIX bytes cross into Python. The
# parsers read nothing past byte 30 for them, so the result is the same.
# JPEG, TIFF-family and unknown payloads still send the whole file: a
# JPEG SOF or a TIFF IFD can sit anywhere in it.
_FIXED_HEADER_MAGIC = (b"\x89PNG\r\n\x1a\n", b"GIF87a", b"GIF89a", b"RAW1")
_HEADER_PREFIX = 64


def _header_bytes(content: Column) -> Column:
    """``content`` cut to its header prefix where the magic bytes say
    the dimensions sit at a fixed offset; the whole payload otherwise."""
    def starts(magic: bytes, pos: int = 1) -> Column:
        return F.substring(content, pos, len(magic)) == F.lit(magic)

    fixed = starts(b"RIFF") & starts(b"WEBP", 9)
    for magic in _FIXED_HEADER_MAGIC:
        fixed = fixed | starts(magic)
    return F.when(fixed, F.substring(content, 1, _HEADER_PREFIX)).otherwise(content)


_META_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("basename", StringType()),
        StructField("ext", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("error", StringType()),
    ]
)


def build_images_meta(scanned: DataFrame) -> DataFrame:
    """S2: header-only dimension read as an Arrow-batched pandas UDF.

    Decode failures land in the ``error`` column instead of aborting
    the batch — the reference's per-element try/except (F7,
    filter_crop.py:64-65) turned into a quarantine-able column
    (filter on ``error IS NOT NULL`` for the quarantine table).
    """

    def parse_batch(batches):
        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                base = path.rsplit("/", 1)[-1]
                stem, _, ext = base.rpartition(".")
                row = {
                    "path": path,
                    "basename": stem or base,
                    "ext": ext.lower(),
                    "width": None,
                    "height": None,
                    "error": None,
                }
                try:
                    dims = None
                    for parser in _HEADER_PARSERS:
                        dims = parser(bytes(content))
                        if dims:
                            break
                    if dims:
                        row["width"], row["height"] = dims
                    else:
                        row["error"] = "unsupported or corrupt header"
                except Exception as e:  # corrupt file: quarantine, don't abort
                    row["error"] = f"{type(e).__name__}: {e}"
                out.append(row)
            yield pd.DataFrame(out, columns=[f.name for f in _META_SCHEMA.fields])

    return scanned.select(
        "path", _header_bytes(F.col("content")).alias("content")
    ).mapInPandas(parse_batch, schema=_META_SCHEMA)


def quarantine(meta: DataFrame) -> DataFrame:
    """F7: the rows that failed header parsing — logged, never fatal
    (improves on the reference's inconsistent per-op handling,
    SURVEY.md §2.4 F7)."""
    return meta.filter(F.col("error").isNotNull())


def valid_images(meta: DataFrame) -> DataFrame:
    return meta.filter(
        F.col("error").isNull() & scalar.has_image_extension(F.col("path"))
    )
