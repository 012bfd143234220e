"""End-to-end workflows — the reference's UI tabs as engine functions.

A user of the reference runs three workflows (SURVEY.md §3):
prepare (filter → auto-crop), tiling (the flagship), and the text
tasks (merge / split / dedup), plus format conversion. Each function
here is that workflow as one declarative pipeline over a folder —
the Gradio button click becomes a function call, the status string
becomes a metrics dict, and every intermediate is a queryable
DataFrame instead of a filesystem state.

All pixel stages run through the codec registry
(multimodal/binary.py): fully real for the rawrgb container, stubbed
(quarantined, never fatal) for formats whose codec libraries are not
in this environment.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .multimodal import binary as mm
from .operators import routing as routing_ops
from .operators import textops
from .operators.tiling import TileSpec, tile_grid
from .sources import images as img_src
from .sources import sinks
from .sources import text as text_src


@dataclass
class RunResult:
    """The reference's status string, structured (A1 counters)."""

    metrics: dict[str, Any] = field(default_factory=dict)
    output: DataFrame | None = None


def _count_if(cond, name: str):
    """Row counter for an Observation: rows where ``cond`` holds."""
    return F.count(F.when(cond, 1)).alias(name)


# ------------------------------------------------------------- prepare

def prepare_images(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    tile_size: int = 1024,
    overlap_ratio: float = 0.5,
    write_reports: bool = True,
) -> RunResult:
    """§3.2 prepare pipeline: scan → header-only meta → route (F2∨F3)
    → routed write + K6 crop reports. One DataFrame chain replaces the
    two filesystem-coupled button clicks.

    The header parse runs once: the counters ride the one routed write
    as Observations, and the report exporter reads the written table
    back (it holds only the geometry columns)."""
    quarantine_obs, route_obs = Observation("quarantine"), Observation("routes")
    meta = img_src.build_images_meta(
        img_src.scan_image_folder(spark, in_dir)
    ).observe(quarantine_obs, _count_if(F.col("error").isNotNull(), "quarantined"))
    valid = img_src.valid_images(meta).withColumn("image_id", F.col("basename"))
    routed = routing_ops.route_images(valid, tile_size, overlap_ratio).observe(
        route_obs,
        _count_if(F.col("route") == routing_ops.ROUTE_OK, "kept"),
        _count_if(F.col("route") == routing_ops.ROUTE_INCOMPATIBLE, "moved"),
    )
    sinks.write_routed(routed, f"{out_dir}/routed")
    # the schema is given: a write with no valid image holds no data
    # file to infer it from
    written = spark.read.schema(routed.schema).parquet(f"{out_dir}/routed")
    n_reports = (
        sinks.export_crop_reports(written, f"{out_dir}/reports")
        if write_reports
        else 0
    )
    routes = route_obs.get
    return RunResult(
        metrics={
            "kept": routes["kept"],
            "moved": routes["moved"],
            "reports": n_reports,
            "quarantined": quarantine_obs.get["quarantined"],
        },
        output=written,
    )


# -------------------------------------------------------------- tiling

def tile_folder(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    spec: TileSpec,
    export_sidecars: bool = False,
    make_zip: bool = False,
    use_sidecar_captions: bool = False,
) -> RunResult:
    """§3.1 flagship pipeline: scan → meta → geometry explode →
    per-image pixel materialization → tiles table (+ optional
    sidecar/zip exporters).

    Captions: ``spec.caption`` stamps one caption on every tile (J2,
    tiling.py:71-75); ``use_sidecar_captions=True`` instead LEFT-joins
    per-image ``<basename>.txt`` sidecars by basename (J1,
    skip_tiles.py:41-48) — missing sidecars yield null captions.

    Shuffle budget: geometry is narrow; the pixel stage exchanges per
    image (see ``binary.tiles_by_image`` for why). The ``tiles``/
    ``failed`` counters ride the one parquet write as an Observation;
    the sidecar exporter reads the written table back.
    """
    scanned = img_src.scan_image_folder(spark, in_dir)
    meta = img_src.valid_images(img_src.build_images_meta(scanned))
    images = meta.select(
        F.col("path").alias("image_id"), "basename", "ext", "width", "height"
    )
    geom = tile_grid(images, spec)
    has_caption = use_sidecar_captions or spec.caption is not None
    if use_sidecar_captions:
        side = (
            text_src.read_whole_files(spark, in_dir, glob="*.txt")
            .select(
                F.regexp_replace("input_file", r"\.txt$", "").alias("basename"),
                # rtrim only strips spaces; kill trailing newlines too
                F.regexp_replace(F.col("content"), r"\s+$", "").alias("caption"),
            )
        )
        geom = geom.join(F.broadcast(side), "basename", "left")
    geom = geom.select(
        F.col("image_id").alias("id"), "i", "j",
        "box_left", "box_top", "box_right", "box_bottom",
        "tile_name", *(["caption"] if has_caption else []),
    )
    # the extension as build_images_meta derives it: images outside
    # the geometry (invalid or untileable) drop out in the kernel join
    content = scanned.select(
        F.col("path").alias("id"),
        F.lower(F.element_at(F.split("path", r"\."), -1)).alias("fmt"),
        "content",
    )
    counts = Observation("tiles")
    tiles = mm.materialize_tiles(
        geom, content, tile_size=spec.tile_size, pad_option=spec.pad_option
    ).observe(
        counts,
        _count_if(F.col("error").isNull(), "tiles"),
        _count_if(F.col("error").isNotNull(), "failed"),
    )
    tiles.write.mode("errorifexists").parquet(f"{out_dir}/tiles")
    written = spark.read.parquet(f"{out_dir}/tiles")
    metrics = dict(counts.get)
    if export_sidecars and has_caption:
        metrics["sidecars"] = sinks.export_sidecar_files(
            written.filter(F.col("error").isNull()), f"{out_dir}/sidecars"
        )
    if make_zip:
        metrics["zip"] = sinks.create_zip(out_dir)
    return RunResult(metrics=metrics, output=written)


# ---------------------------------------------------------- conversion

def convert_images(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_fmt: str = "rawrgb",
) -> RunResult:
    """Format-conversion workflow (/root/reference/modules/
    other_tasks.py:29-67): decode via the codec registry, re-encode to
    the target format. Unsupported codecs land in the quarantine
    (error column), matching F7 instead of aborting the folder."""
    scanned = img_src.scan_image_folder(spark, in_dir)
    src = scanned.select(
        F.col("path").alias("id"),
        F.lower(F.element_at(F.split("path", r"\."), -1)).alias("fmt"),
        "content",
    )
    counts = Observation("converted")
    mm.convert_batch(src, target_fmt).observe(
        counts,
        _count_if(F.col("error").isNull(), "converted"),
        _count_if(F.col("error").isNotNull(), "failed"),
    ).write.mode("errorifexists").parquet(f"{out_dir}/converted")
    return RunResult(
        metrics=dict(counts.get),
        output=spark.read.parquet(f"{out_dir}/converted"),
    )


# ---------------------------------------------------------- text tasks

def merge_text_folder(spark: SparkSession, in_dir: str, out_path: str,
                      glob: str = "*.txt",
                      distributed: bool = False) -> RunResult:
    """§3.3 merge: ordered concat of every .txt file's lines (A2) —
    the reference scans only .txt (other_tasks.py:8-10).

    ``distributed=True`` streams ordered part files to the ``out_path``
    DIRECTORY instead of materializing one merged string (the 100 TB
    path; concatenating the parts in filename order reproduces the
    single file byte-for-byte)."""
    lines = text_src.read_lines(spark, in_dir, glob=glob)
    if distributed:
        n_parts = sinks.export_merged_text_distributed(lines, out_path)
        return RunResult(
            metrics={"n_lines": lines.count(), "n_parts": n_parts}
        )
    return RunResult(metrics={"n_lines": sinks.export_merged_text(lines, out_path)})


def split_text_file(
    spark: SparkSession, in_path: str, out_dir: str, records_per_file: int = 50
) -> RunResult:
    """§3.3 split: W1 chunk assignment + K4 exporter."""
    lines = text_src.read_lines(spark, in_path, glob="*.txt")
    n_files = sinks.export_chunked_text(lines, out_dir, records_per_file)
    return RunResult(metrics={"n_files": n_files, "n_lines": lines.count()})


def dedup_text_file(spark: SparkSession, in_path: str, out_path: str) -> RunResult:
    """§3.3 dedup: order-preserving first occurrences (A4) written in
    original order; metrics carry the A3 counts.

    Reference parity is ONE ``{name}_purged{ext}`` file, but the line
    content never rides through the driver (round 11, VERDICT r10
    wrong #4 — this used to collect every kept line): the kept set
    streams through the W1 ordered distributed writer
    (sinks.export_ordered_lines_distributed, the merged-text sink's
    machinery) and the single file is a sequential byte-concat of the
    ordered parts — file IO bounded by one record of memory."""
    import shutil

    from . import matcache

    lines = text_src.read_lines(spark, in_path, glob="*.txt")
    stats = textops.dedup_stats(lines).collect()[0]
    # line_no is per-file; dedup across a folder needs the GLOBAL
    # (input_file, line_no) order, i.e. the W1 row number
    numbered = textops.attach_global_row_number(lines)
    kept = (
        numbered.groupBy("value")
        .agg(F.min("rn").alias("rn"))
        .select("rn", "value")
    )
    part_dir = matcache.scratch_dir("dbp_purged_")
    sinks.export_ordered_lines_distributed(kept, part_dir)
    with open(out_path, "wb") as out:
        for part in sorted(
            (
                os.path.join(part_dir, p)
                for p in os.listdir(part_dir)
                if p.startswith("part-")
            ),
            # parsed partition id, not lexicographic filename (ADVICE
            # r11: 'part-100000' < 'part-99999' as strings)
            key=lambda q: int(
                os.path.basename(q).split("-")[1].split(".")[0]
            ),
        ):
            with open(part, "rb") as fh:
                shutil.copyfileobj(fh, out)
    return RunResult(
        metrics={
            "original": stats["original_count"],
            "unique": stats["unique_count"],
            "removed": stats["removed_count"],
        }
    )


# -------------------------------------------------------------- export

def export_training_data(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    drop_worst_pct: int = 10,
) -> RunResult:
    """The round-5 export flow as one facade call: LM-score + filter,
    feature-hash embed, epoch-shuffle + sequence-pack, then publish
    the packed table, embeddings, and shard manifest as ATOMIC
    snapshot versions (sources/snapshots.py) under ``out_dir``.
    The manifest is published LAST and carries the packed/embeddings
    versions it describes, so readers pair tables through the
    manifest and can never observe a mismatched partial export;
    re-running appends new committed versions."""
    import os

    from pyspark.sql import functions as F

    from .export import export_plan
    from .sources import snapshots

    kept, emb, packed, manifest = export_plan(
        spark, sf_dir, drop_worst_pct=drop_worst_pct
    )
    # kept is persisted by export_plan; materialize it ONCE up front
    # so the three publishes below reuse the cache
    n_kept = kept.count()
    v_packed = snapshots.publish_snapshot(
        packed, os.path.join(out_dir, "packed")
    )
    v_emb = snapshots.publish_snapshot(
        emb, os.path.join(out_dir, "embeddings")
    )
    # manifest publishes LAST and NAMES the versions it describes —
    # a reader pairs tables via these columns, never via "latest of
    # each", so a crash between publishes can't produce an
    # undetectably mismatched (packed, manifest) pair
    manifest = manifest.withColumn(
        "packed_version", F.lit(v_packed)
    ).withColumn("embeddings_version", F.lit(v_emb))
    v_man = snapshots.publish_snapshot(
        manifest, os.path.join(out_dir, "manifest")
    )
    man_rows = snapshots.read_snapshot(
        spark, os.path.join(out_dir, "manifest"), version=v_man
    ).count()
    kept.unpersist()
    return RunResult(
        metrics={
            "kept_docs": n_kept,
            "packed_version": v_packed,
            "embeddings_version": v_emb,
            "manifest_version": v_man,
            "manifest_shards": man_rows,
        },
        output=manifest,
    )
