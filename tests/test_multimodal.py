"""Multimodal binary plumbing: codec registry, pixel kernels (golden
arrays per SURVEY.md §5.2 item 2), mapInPandas schema/batch contract,
and the F5 ML routing shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row

from dataset_batch_processor_spark.multimodal import binary as mm
from dataset_batch_processor_spark.operators import mlfilter


def grad_image(h, w):
    return (np.arange(h * w * 3, dtype=np.int64) % 251).astype(np.uint8).reshape(h, w, 3)


def test_rawrgb_roundtrip():
    arr = grad_image(5, 7)
    assert np.array_equal(mm.decode_rawrgb(mm.encode_rawrgb(arr)), arr)


def test_pad_extend_edges_golden():
    # G2: np.pad(..., mode='edge') — replicate last row/col (tiling.py:12-18)
    arr = np.array([[[1, 1, 1], [2, 2, 2]],
                    [[3, 3, 3], [4, 4, 4]]], dtype=np.uint8)
    out = mm.pad_extend_edges(arr, 4)
    assert out.shape == (4, 4, 3)
    assert out[3, 3, 0] == 4  # bottom-right replicated
    assert out[0, 3, 0] == 2  # top edge replicated rightward
    assert out[3, 0, 0] == 3  # left edge replicated downward


def test_pad_to_square_golden():
    # G3: paste at (0,0) on black canvas (tiling.py:57-62)
    arr = np.full((2, 3, 3), 9, dtype=np.uint8)
    out = mm.pad_to_square(arr, 5)
    assert out.shape == (5, 5, 3)
    assert out[:2, :3].min() == 9
    assert out[2:].max() == 0 and out[:, 3:].max() == 0


def test_resize_nearest():
    arr = grad_image(4, 4)
    out = mm.resize_nearest(arr, 2, 2)
    assert out.shape == (2, 2, 3)
    assert np.array_equal(out[0, 0], arr[0, 0])


def test_stub_codec_raises():
    # with a real heic decoder registered (system libheif / pillow
    # heif), garbage raises its precise ValueError; without one, the
    # stub raises NotImplementedError — both land in F7 quarantine
    from dataset_batch_processor_spark.multimodal import optional_codecs

    exc = ValueError if "heic" in optional_codecs.REGISTERED else NotImplementedError
    with pytest.raises(exc):
        mm.CODECS["heic"](b"anything")


def test_decode_metadata_plumbing(spark):
    rows = [
        Row(id="ok", fmt="rawrgb", content=bytearray(mm.encode_rawrgb(grad_image(8, 6)))),
        Row(id="stub", fmt="heic", content=bytearray(b"ftypheic")),
        Row(id="bad", fmt="rawrgb", content=bytearray(b"junk")),
    ]
    got = {r.id: r for r in mm.decode_metadata(spark.createDataFrame(rows)).collect()}
    assert (got["ok"].width, got["ok"].height, got["ok"].error) == (6, 8, None)
    # quarantine path exercised: the stub's NotImplementedError, or a
    # registered real decoder's error on the truncated payload
    assert got["stub"].error is not None and got["stub"].width is None
    assert got["bad"].error is not None  # quarantine, not fatal


def test_materialize_tiles_end_to_end(spark):
    """Geometry (SQL) + pixels (pandas UDF): a 4x4 image tiled at 2."""
    img = grad_image(4, 4)
    tiles_geom = [
        Row(id="im", i=i, j=j, box_left=i * 2, box_top=j * 2,
            box_right=i * 2 + 2, box_bottom=j * 2 + 2)
        for j in range(2) for i in range(2)
    ]
    content = [Row(id="im", fmt="rawrgb",
                   content=bytearray(mm.encode_rawrgb(img)))]
    out = mm.materialize_tiles(spark.createDataFrame(tiles_geom),
                               spark.createDataFrame(content), tile_size=2)
    got = {(r.i, r.j): r for r in out.collect()}
    assert len(got) == 4 and all(r.error is None for r in got.values())
    tile = mm.decode_rawrgb(bytes(got[(1, 1)].content))
    assert np.array_equal(tile, img[2:4, 2:4])


def test_materialize_tiles_pad_extend(spark):
    img = grad_image(3, 3)
    rows = [Row(id="im", i=1, j=1, box_left=2, box_top=2, box_right=3,
                box_bottom=3)]
    content = [Row(id="im", fmt="rawrgb",
                   content=bytearray(mm.encode_rawrgb(img)))]
    out = mm.materialize_tiles(
        spark.createDataFrame(rows), spark.createDataFrame(content),
        tile_size=2, pad_option="Extend Edges"
    ).collect()[0]
    assert (out.tile_w, out.tile_h) == (2, 2)
    tile = mm.decode_rawrgb(bytes(out.content))
    assert (tile == img[2, 2]).all()  # single pixel replicated


def test_ml_face_routing(spark):
    df = spark.createDataFrame([Row(id=f"img_{k}") for k in range(200)])
    routed = mlfilter.route_by_faces(mlfilter.score_faces(df))
    rows = routed.collect()
    assert {r.route for r in rows} <= {"keep", "skip"}
    # existential semantics: keep iff any face conf >= 0.95
    for r in rows:
        has_good = any(f.confidence >= 0.95 for f in (r.faces or []))
        assert (r.route == "keep") == has_good


# ----------------------------------------------------- ViT patchify


def test_patchify_rgb_layout_and_errors():
    import numpy as np
    import pytest

    from dataset_batch_processor_spark.multimodal import binary

    a = np.arange(16 * 24 * 3, dtype=np.uint8).reshape(16, 24, 3)
    g = binary.patchify_rgb(a, 8)
    assert g.shape == (2, 3, 8, 8, 3)
    # patch (i, j) is exactly the corresponding image window
    assert (g[1, 2] == a[8:16, 16:24]).all()
    # flattening a patch matches the embedding layer's row-major walk
    assert (g[0, 0].reshape(-1) == a[:8, :8].reshape(-1)).all()
    with pytest.raises(ValueError, match="not divisible"):
        binary.patchify_rgb(a[:15], 8)
    with pytest.raises(ValueError, match="expects"):
        binary.patchify_rgb(a[:, :, 0], 8)


def test_augment_views_orientations():
    import numpy as np
    import pytest

    from dataset_batch_processor_spark.multimodal import binary

    a = np.arange(8 * 16 * 3, dtype=np.uint8).reshape(8, 16, 3)
    v = binary.augment_views(a)
    assert (v["hflip"] == a[:, ::-1]).all()
    assert (v["vflip"] == a[::-1]).all()
    assert v["rot90"].shape == (16, 8, 3)
    # CCW: the top-right corner becomes the top-left
    assert (v["rot90"][0, 0] == a[0, 15]).all()
    assert v["crop"].shape == (4, 8, 3)
    assert (v["crop"][0, 0] == a[2, 4]).all()
    with pytest.raises(ValueError, match="expects"):
        binary.augment_views(a[:, :, 0])
