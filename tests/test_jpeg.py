"""Baseline JPEG codec: error-bounded roundtrips, structure, registry.

Lossy format — tests bound reconstruction error instead of demanding
bit equality; determinism IS exact (asserted), which is what the
oracle query relies on.
"""

from __future__ import annotations

import numpy as np
import pytest

from dataset_batch_processor_spark.multimodal import binary, jpeg


def _gradient(h, w):
    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [(x * 3) % 256, (y * 4) % 256, ((x + y) * 2) % 256], axis=2
    ).astype(np.uint8)


def test_roundtrip_gradient_error_bounded():
    arr = _gradient(40, 56)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(arr, quality=90))
    assert dec.shape == arr.shape
    err = np.abs(dec.astype(int) - arr.astype(int))
    assert err.max() <= 8 and err.mean() < 2.0


def test_solid_color_near_exact():
    for v in (0, 77, 128, 255):
        solid = np.full((16, 24, 3), v, np.uint8)
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg(solid, quality=85))
        assert np.abs(dec.astype(int) - v).max() <= 2


def test_non_multiple_of_8_dims():
    arr = np.random.default_rng(0).integers(0, 256, (13, 19, 3), dtype=np.uint8)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(arr, quality=95))
    assert dec.shape == (13, 19, 3)


def test_deterministic():
    arr = _gradient(24, 24)
    assert jpeg.encode_jpeg(arr) == jpeg.encode_jpeg(arr)
    d1 = jpeg.decode_jpeg(jpeg.encode_jpeg(arr))
    d2 = jpeg.decode_jpeg(jpeg.encode_jpeg(arr))
    assert np.array_equal(d1, d2)


def test_quality_monotonicity():
    arr = _gradient(32, 32)
    errs, sizes = [], []
    for q in (30, 60, 90):
        data = jpeg.encode_jpeg(arr, quality=q)
        dec = jpeg.decode_jpeg(data)
        errs.append(np.abs(dec.astype(int) - arr.astype(int)).mean())
        sizes.append(len(data))
    assert errs[0] >= errs[1] >= errs[2]
    assert sizes[0] <= sizes[2]


def test_gray_input_promoted():
    g = np.arange(64, dtype=np.uint8).reshape(8, 8) * 3
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(g, quality=95))
    assert dec.shape == (8, 8, 3)
    # channels near-equal (gray stays gray through YCbCr)
    assert np.abs(dec[:, :, 0].astype(int) - dec[:, :, 2].astype(int)).max() <= 2


def test_malformed_streams_raise():
    arr = _gradient(8, 8)
    # A baseline stream relabeled SOF2 is an ILLEGAL progressive
    # stream (its single scan has Ss=0, Se=63; progressive DC scans
    # must have Se=0 — T.81 G.1.1.1). Real progressive streams decode
    # now (tests/test_jpeg_progressive.py).
    data = bytearray(jpeg.encode_jpeg(arr))
    sof = data.find(b"\xff\xc0")
    data[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="Ss=0, Se!=0"):
        jpeg.decode_jpeg(bytes(data))
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(b"not a jpeg at all")


def test_registry_and_sniffing():
    arr = _gradient(16, 16)
    data = binary.ENCODERS["jpg"](arr)
    out = binary.decode_any("jpg", data)
    assert np.abs(out.astype(int) - arr.astype(int)).max() <= 8
    # sniffing: magic wins over wrong extension
    out2 = binary.decode_any("png", data)
    assert np.array_equal(out, out2)


def test_header_probe_agrees():
    from dataset_batch_processor_spark.sources import images

    data = jpeg.encode_jpeg(_gradient(21, 34))
    assert images.parse_jpeg_header(data) == (34, 21)


def test_header_probe_rejects_junk_after_soi():
    """An SOI followed by junk is no JPEG, even when the junk holds an
    SOF-like byte pair; a loose walk that skipped non-0xFF bytes read
    32x16 out of this string."""
    from dataset_batch_processor_spark.sources import images

    junk = b"\xff\xd8\x12\x34\xff\xc0\x00\x11\x08\x00\x10\x00\x20" + bytes(19)
    assert images.parse_jpeg_header(junk) is None
    # a zero segment length is no segment either
    assert images.parse_jpeg_header(b"\xff\xd8\xff\xe0\x00\x00" + bytes(16)) is None
    # fill bytes before a marker are allowed
    sof = b"\xff\xc0\x00\x11\x08\x00\x10\x00\x20" + bytes(12)
    assert images.parse_jpeg_header(b"\xff\xd8\xff\xff" + sof[1:]) == (32, 16)


def test_convert_png_to_jpeg_end_to_end(spark):
    """P12 path: PNG in, JPEG out through the Spark conversion kernel."""
    from dataset_batch_processor_spark.multimodal import png

    arr = _gradient(24, 24)
    df = spark.createDataFrame(
        [("a", png.encode_png(arr), "png")],
        "id string, content binary, fmt string",
    )
    out = binary.convert_batch(df, "jpg").collect()[0]
    assert out.error is None and (out.height, out.width) == (24, 24)
    dec = jpeg.decode_jpeg(bytes(out.content))
    assert np.abs(dec.astype(int) - arr.astype(int)).max() <= 8


def test_420_subsampled_roundtrip():
    """4:2:0 stream exercises the decoder's 2x2-Y MCU interleave and
    chroma upsampling — the layout of virtually all external JPEGs."""
    arr = _gradient(40, 56)
    data = jpeg.encode_jpeg(arr, quality=90, subsample=True)
    dec = jpeg.decode_jpeg(data)
    assert dec.shape == arr.shape
    err = np.abs(dec.astype(int) - arr.astype(int))
    # chroma is halved: luma stays tight, overall bound is looser
    assert err.mean() < 6 and err.max() <= 64
    # 4:2:0 must be smaller than 4:4:4 at the same quality
    assert len(data) < len(jpeg.encode_jpeg(arr, quality=90))


def test_420_odd_dims():
    for h, w in ((9, 9), (17, 23), (16, 16), (15, 32)):
        arr = _gradient(h, w)
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg(arr, quality=92, subsample=True))
        assert dec.shape == (h, w, 3)
        assert np.abs(dec.astype(int) - arr.astype(int)).mean() < 8


# ------------------------------------- 12-bit extended sequential (r8)


def test_jpeg12_gray_roundtrip_display():
    import numpy as np

    for h, w, qual in ((9, 13, 100), (16, 16, 90), (5, 31, 95), (1, 1, 90)):
        y, x = np.mgrid[0:h, 0:w]
        arr = (x * 60 + y * 70 + 123).astype(np.uint16)
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg12_gray(arr, quality=qual))
        exp = (arr >> 4).astype(np.uint8)
        assert dec.shape == (h, w, 3)
        assert np.abs(dec[:, :, 0].astype(int) - exp.astype(int)).max() <= 1
        assert np.array_equal(dec[:, :, 0], dec[:, :, 2])  # gray replicated


def test_jpeg12_q100_near_lossless_on_noise():
    import numpy as np

    arr = np.random.default_rng(3).integers(0, 4096, (12, 10)).astype(
        np.uint16
    )
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg12_gray(arr, quality=100))
    assert np.abs(
        dec[:, :, 0].astype(int) - (arr >> 4).astype(int)
    ).max() <= 1


def test_jpeg12_16bit_dqt_pq1_path():
    # rewrite the encoder's Pq=0 DQT as a 16-bit Pq=1 table with the
    # same values: the decode must be identical
    import struct as _struct

    import numpy as np

    arr = (np.mgrid[0:8, 0:11][1] * 90 + 200).astype(np.uint16)
    data = jpeg.encode_jpeg12_gray(arr, quality=90)
    i = data.index(b"\xff\xdb")
    (seg_len,) = _struct.unpack(">H", data[i + 2 : i + 4])
    vals = data[i + 5 : i + 5 + 64]
    wide = b"".join(_struct.pack(">H", v) for v in vals)
    patched = (
        data[:i]
        + b"\xff\xdb" + _struct.pack(">H", 2 + 1 + 128) + b"\x10" + wide
        + data[i + 2 + seg_len:]
    )
    assert np.array_equal(jpeg.decode_jpeg(patched), jpeg.decode_jpeg(data))


def test_jpeg12_progressive_and_odd_precisions_rejected():
    import numpy as np
    import pytest as _pytest

    arr = (np.mgrid[0:8, 0:8][1] * 100).astype(np.uint16)
    data = bytearray(jpeg.encode_jpeg12_gray(arr))
    i = data.index(b"\xff\xc1")
    data[i + 1] = 0xC2  # claim progressive, keep precision 12
    with _pytest.raises(NotImplementedError, match="progressive"):
        jpeg.decode_jpeg(bytes(data))
    data[i + 1] = 0xC1
    data[i + 4] = 16  # precision 16 unsupported
    with _pytest.raises(NotImplementedError, match="16-bit"):
        jpeg.decode_jpeg(bytes(data))


def test_jpeg12_encoder_input_validation():
    import numpy as np
    import pytest as _pytest

    with _pytest.raises(ValueError, match="uint16"):
        jpeg.encode_jpeg12_gray(np.zeros((4, 4), dtype=np.uint8))
    with _pytest.raises(ValueError, match="12 bits"):
        jpeg.encode_jpeg12_gray(
            np.full((4, 4), 5000, dtype=np.uint16)
        )
