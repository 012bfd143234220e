"""Full reference workflow on REAL image bytes, end to end:

folder of .png files -> S1 extension-filtered scan -> S2 header-only
dims -> F2-F4 routing -> G1 tile geometry -> S3 real PNG decode ->
G2 pad -> K1 re-encode (JPEG!) -> K7 zip export, with F7 quarantine
for the corrupt file. This is the switch-from-the-reference proof:
every stage a reference user runs, on actual pixels, no PIL.
"""

from __future__ import annotations

import zipfile

import numpy as np
from pyspark.sql import functions as F

from dataset_batch_processor_spark.multimodal import binary, jpeg, png
from dataset_batch_processor_spark.operators import routing, tiling
from dataset_batch_processor_spark.sources import images, sinks


def _img(h, w, seed):
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


def test_full_pipeline_on_real_pngs(spark, tmp_path):
    src = tmp_path / "photos"
    src.mkdir()
    big = _img(24, 40, 1)  # tileable at tile=16/overlap=0.5 (step 8)
    small = _img(6, 6, 2)  # too small -> incompatible route
    (src / "big.png").write_bytes(png.encode_png(big))
    (src / "small.png").write_bytes(png.encode_png(small))
    (src / "broken.png").write_bytes(b"\x89PNG\r\n\x1a\nGARBAGE")
    (src / "notes.txt").write_text("not an image")  # F1 filters this out

    # S1 + S2: scan + header-only dims (no full decode yet)
    scanned = images.scan_image_folder(spark, str(src))
    assert scanned.count() == 3  # extension predicate pushed to listing
    meta = images.build_images_meta(scanned)
    rows = {r.basename: r for r in meta.collect()}
    assert (rows["big"].width, rows["big"].height) == (40, 24)
    assert rows["broken"].error is not None  # F7 quarantine, not a crash

    ok = meta.filter(F.col("error").isNull()).withColumn(
        "image_id", F.col("basename")
    )

    # F2-F4 routing at tile=16: big -> ok, small -> incompatible
    routed = routing.route_images(ok, 16, 0.5)
    routes = {r.image_id: r.route for r in routed.collect()}
    assert routes == {"big": "ok", "small": "incompatible"}

    # G1 geometry on the routed-ok image
    spec = tiling.TileSpec(tile_size=16, overlap_ratio=0.5, padding=0,
                           save_format="JPG")
    grid = tiling.tile_grid(
        routed.filter(F.col("route") == "ok").drop("route"), spec
    )
    geo = grid.collect()
    # 24x40, tile 16, step 8: reference counts include min-clamped edge
    # tiles (G5) -> 5 cols x 3 rows (formula oracle-verified elsewhere)
    assert len(geo) == 15
    assert all(
        0 <= r.box_left < r.box_right <= 40
        and 0 <= r.box_top < r.box_bottom <= 24
        for r in geo
    )

    # S3/G2/K1: per-image content, decode REAL PNG, crop+pad, re-encode
    content = scanned.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
        "content",
    ).withColumn("image_id", F.expr("substring_index(fname, '.', 1)"))
    geom = grid.select(
        F.col("image_id").alias("id"),
        "i", "j", "box_left", "box_top", "box_right", "box_bottom",
    )
    pix = binary.materialize_tiles(
        geom,
        content.select(F.col("image_id").alias("id"), "content",
                       F.lit("png").alias("fmt")),
        tile_size=16, pad_option="Extend Edges",
    )
    pix_rows = pix.collect()
    assert len(pix_rows) == 15 and all(r.error is None for r in pix_rows)
    one = next(r for r in pix_rows if (r.i, r.j) == (0, 0))
    assert np.array_equal(
        binary.decode_rawrgb(bytes(one.content)), big[0:16, 0:16]
    )

    # K1 with the reference's default save format: JPEG via the codec
    jpg_out = binary.convert_batch(
        pix.select("id", F.lit("rawrgb").alias("fmt"), "content"),
        "jpg",
    ).collect()
    assert all(r.error is None for r in jpg_out)
    dec = jpeg.decode_jpeg(bytes(jpg_out[0].content))
    assert dec.shape == (16, 16, 3)

    # K7: zip export of the source folder (flattening fix per SURVEY)
    zpath = sinks.create_zip(str(src))
    names = set(zipfile.ZipFile(zpath).namelist())
    assert {"big.png", "small.png"} <= names
