"""Sources (S1/S2/S6/S7/S9) and sinks (K2/K3/K4/K6/K7/K9) driven
through real temp files."""

from __future__ import annotations

import os
import struct
import zipfile

import pytest
from pyspark.sql import Row

from dataset_batch_processor_spark.operators import routing
from dataset_batch_processor_spark.sources import images as img_src
from dataset_batch_processor_spark.sources import sinks
from dataset_batch_processor_spark.sources import text as text_src


def fake_png(w: int, h: int) -> bytes:
    # minimal PNG header: signature + IHDR length/type + dims
    return (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"\x00" * 16
    )


def fake_gif(w: int, h: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 16


@pytest.fixture()
def image_dir(tmp_path):
    d = tmp_path / "imgs"
    d.mkdir()
    (d / "a.png").write_bytes(fake_png(640, 480))
    (d / "b.PNG").write_bytes(fake_png(1024, 1024))
    (d / "c.gif").write_bytes(fake_gif(32, 16))  # gif not in allowed set
    (d / "d.jpg").write_bytes(b"\xff\xd8garbage")  # corrupt jpeg
    (d / "notes.txt").write_text("not an image")
    return str(d)


def test_scan_pushes_extension_filter(spark, image_dir):
    paths = {r.path.rsplit("/", 1)[-1] for r in
             img_src.scan_image_folder(spark, image_dir).collect()}
    # F1: txt and gif excluded at LISTING time, case-insensitive match kept
    assert paths == {"a.png", "b.PNG", "d.jpg"}


def test_images_meta_and_quarantine(spark, image_dir):
    meta = img_src.build_images_meta(img_src.scan_image_folder(spark, image_dir))
    rows = {r.basename: r for r in meta.collect()}
    assert (rows["a"].width, rows["a"].height) == (640, 480)
    assert (rows["b"].width, rows["b"].height) == (1024, 1024)
    assert rows["d"].error is not None  # corrupt file quarantined, not fatal
    q = img_src.quarantine(meta).collect()
    assert {r.basename for r in q} == {"d"}


@pytest.fixture()
def text_dir(tmp_path):
    d = tmp_path / "txt"
    d.mkdir()
    (d / "f1.txt").write_text("alpha\nbeta\nalpha\n")
    (d / "f2.txt").write_text("gamma\nbeta\n")
    return str(d)


def test_read_lines_order(spark, text_dir):
    rows = text_src.read_lines(spark, text_dir).collect()
    got = {(r.input_file, r.line_no): r.value for r in rows}
    assert got == {
        ("f1.txt", 0): "alpha", ("f1.txt", 1): "beta", ("f1.txt", 2): "alpha",
        ("f2.txt", 0): "gamma", ("f2.txt", 1): "beta",
    }


def test_read_whole_files(spark, text_dir):
    rows = {r.input_file: r.content for r in
            text_src.read_whole_files(spark, text_dir).collect()}
    assert rows["f2.txt"] == "gamma\nbeta\n"


def test_caption_dictionary_loader(spark, tmp_path):
    p = tmp_path / "caps"
    p.mkdir()
    (p / "Unified_Caps.txt").write_text("first\n\n  second  \nfirst\n")
    rows = {r.caption: r.mru_seq for r in
            text_src.load_caption_dictionary(spark, str(p)).collect()}
    # stripped, empties dropped, first occurrence wins (MRU head)
    assert rows == {"first": 0, "second": 2}


def test_export_merged_and_chunked(spark, tmp_path):
    lines = spark.createDataFrame(
        [Row(line_no=n, input_file="f", value=f"line{n}") for n in range(7)]
    )
    merged = tmp_path / "merged.txt"
    sinks.export_merged_text(lines, str(merged))
    assert merged.read_text() == "\n\n".join(f"line{n}" for n in range(7))

    out = tmp_path / "chunks"
    n_files, n_lines = sinks.export_chunked_text(lines, str(out), records_per_file=3)
    assert (n_files, n_lines) == (3, 7)
    assert (out / "split_0.txt").read_text() == "line0\nline1\nline2\n"
    assert (out / "split_2.txt").read_text() == "line6\n"


def test_export_crop_reports(spark, tmp_path):
    images = spark.createDataFrame(
        [Row(image_id=0, basename="img_0", ext="png", width=1000, height=2048)]
    )
    routed = routing.route_images(images, 1024, 0.5)
    out = tmp_path / "reports"
    n = sinks.export_crop_reports(routed, str(out))
    assert n == 1
    body = (out / "img_0.txt").read_text()
    assert "Original size: 1000x2048" in body
    assert "Recommended crop: 1000x2048" in body


def test_write_routed_partitions(spark, tmp_path):
    images = spark.createDataFrame(
        [Row(image_id=0, basename="ok_img", ext="png", width=1024, height=1024),
         Row(image_id=1, basename="bad_img", ext="png", width=100, height=100)]
    )
    out = str(tmp_path / "routed")
    sinks.write_routed(routing.route_images(images, 1024, 0.5), out)
    back = spark.read.parquet(out)
    got = {r.basename: r.route for r in back.collect()}
    assert got == {"ok_img": "ok", "bad_img": "incompatible"}
    # K9: second write into same path must fail (errorifexists)
    with pytest.raises(Exception):
        sinks.write_routed(routing.route_images(images, 1024, 0.5), out)


def test_create_zip_keeps_relative_paths(tmp_path):
    d = tmp_path / "zipme"
    (d / "sub").mkdir(parents=True)
    (d / "x.txt").write_text("x")
    (d / "sub" / "y.txt").write_text("y")
    zp = sinks.create_zip(str(d))
    with zipfile.ZipFile(zp) as zf:
        # deviation from reference: no flattening -> no collisions
        assert sorted(zf.namelist()) == ["sub/y.txt", "x.txt"]


def test_sidecar_export(spark, tmp_path):
    tiles = spark.createDataFrame(
        [Row(tile_name="img_tile_0_0.png", caption="cap a"),
         Row(tile_name="img_tile_1_0.png", caption=None)]
    )
    out = tmp_path / "sidecars"
    n = sinks.export_sidecar_files(tiles, str(out))
    assert n == 1
    assert (out / "img_tile_0_0.txt").read_text() == "cap a"
    assert not (out / "img_tile_1_0.txt").exists()


def test_sidecar_export_counts_in_its_write_job(spark, tmp_path):
    # the file count rides the foreachPartition write (an accumulator),
    # not a second count() job over the same rows
    tiles = spark.createDataFrame(
        [Row(tile_name=f"img_tile_{i}_0.png", caption=f"cap {i}") for i in range(5)]
    )
    sc = spark.sparkContext
    group = "sidecar-export-jobs"
    sc.setJobGroup(group, "export_sidecar_files")
    try:
        n = sinks.export_sidecar_files(tiles, str(tmp_path / "sidecars"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == 5
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
