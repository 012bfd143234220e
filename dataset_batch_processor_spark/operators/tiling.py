"""Tile-grid explode — the reference's flagship operator (G1).

The reference tiles one image at a time with nested Python loops
(/root/reference/modules/tiling.py:20-76: ``for j in range(v_tiles):
for i in range(h_tiles)``). Spark-first design splits the operator in
two stages:

(a) **geometry** — a pure-SQL grid explode
    (``explode(sequence(...))`` × 2 + box arithmetic), fully
    DuckDB-oracle-able and fully inside whole-stage codegen. This is a
    LATERAL-VIEW-explode flat map: 1 image row → h_tiles × v_tiles
    tile rows. No shuffle: the explode is a narrow transformation, so
    at 100 TB this pipelines straight out of the scan.
(b) **pixels** — the actual crop/pad (done by the multimodal layer's
    pandas UDFs) only when materializing real tiles; plans that touch
    only geometry never decode bytes — mirroring the reference's own
    header-only trick (filter_crop.py:44-46).

Skew note: a pathological single huge image produces h_tiles×v_tiles
rows from one input row. The geometry rows are ~40 bytes each so even
a 100k-tile image is ~4 MB — no salting needed for stage (a). The
pixel stage exchanges per image, not per tile (see
multimodal/binary.tiles_by_image for why).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import scalar


@dataclass(frozen=True)
class TileSpec:
    """Typed replacement for the reference UI's positional arg tuple
    (/root/reference/start_app.py:89-95)."""

    tile_size: int = 1024
    overlap_ratio: float = 0.5
    padding: int = 0
    num_tiles: int = 0  # if != 0, derive tile_size per image (P6)
    pad_option: str = "None"  # None | Auto Adjust | Extend Edges | Pad to Square
    save_format: str = "PNG"  # JPG | PNG | NONE (P11)
    caption: str | None = None  # J2: one caption broadcast to every tile

    def __post_init__(self) -> None:
        scalar.validate_overlap(self.overlap_ratio)


def _tile_size_col(spec: TileSpec) -> Column:
    if spec.num_tiles:
        return scalar.derived_tile_size(F.col("width"), F.col("height"), spec.num_tiles)
    return F.lit(spec.tile_size)


def tile_grid(images: DataFrame, spec: TileSpec) -> DataFrame:
    """1 image row → grid of tile rows (geometry only).

    Input: images_meta-shaped DataFrame
    (image_id, basename, ext, width, height).
    Output columns: image_id, basename, i, j, box_left, box_top,
    box_right, box_bottom, tile_w, tile_h, tile_name[, caption].

    Row-major order (j outer, i inner) matches tiling.py:36-37, made
    explicit via the (j, i) columns rather than row order.
    """
    tile = _tile_size_col(spec)
    step = scalar.step_size(tile, spec.overlap_ratio)
    w, h = F.col("width"), F.col("height")
    h_tiles, v_tiles = scalar.tile_counts(w, h, spec.padding, step)

    g = (
        images.withColumn("tile_size", tile)
        .withColumn("step", step)
        .withColumn("h_tiles", h_tiles)
        .withColumn("v_tiles", v_tiles)
        # Guard: Spark's sequence(0, -1) yields a DESCENDING sequence,
        # so empty grids must be filtered out, matching range(0) = [].
        .filter((F.col("h_tiles") > 0) & (F.col("v_tiles") > 0))
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.col("v_tiles") - 1)))
        .withColumn("i", F.explode(F.sequence(F.lit(0), F.col("h_tiles") - 1)))
    )

    if spec.pad_option == "Auto Adjust":
        left, upper, right, lower = scalar.auto_adjust_box(
            (F.col("i") * F.col("step")).cast("int"),
            (F.col("j") * F.col("step")).cast("int"),
            F.col("tile_size"),
            w,
            h,
        )
    else:
        left, upper, right, lower = scalar.tile_box(
            F.col("i"), F.col("j"), F.col("tile_size"), F.col("step"), w, h
        )

    out = g.select(
        "image_id",
        "basename",
        "i",
        "j",
        left.alias("box_left"),
        upper.alias("box_top"),
        right.alias("box_right"),
        lower.alias("box_bottom"),
        (right - left).cast("int").alias("tile_w"),
        (lower - upper).cast("int").alias("tile_h"),
        scalar.tile_filename(
            F.col("basename"), F.col("i"), F.col("j"), spec.save_format
        ).alias("tile_name"),
    )
    if spec.caption is not None:
        # J2: degenerate broadcast — single UI caption on every tile
        # (/root/reference/modules/tiling.py:71-75).
        out = out.withColumn("caption", F.lit(spec.caption))
    return out


def tile_grid_sql(spec: TileSpec, images_cte: str) -> str:
    """DuckDB oracle for :func:`tile_grid` (same math, same names).

    ``images_cte`` is a WITH-clause body defining ``images_meta``.
    """
    if spec.num_tiles:
        tile_expr = (
            "CAST(floor(least(width, height) / "
            f"floor(sqrt({spec.num_tiles}))) AS INT)"
        )
    else:
        tile_expr = f"{spec.tile_size}"
    ext = "jpg" if spec.save_format.upper() == "JPG" else "png"
    if spec.pad_option == "Auto Adjust":
        box = """
          CAST(CASE WHEN i*step + tile_size > width
               THEN greatest(width - tile_size, 0) ELSE i*step END AS INT) AS box_left,
          CAST(CASE WHEN j*step + tile_size > height
               THEN greatest(height - tile_size, 0) ELSE j*step END AS INT) AS box_top
        """
    else:
        box = """
          CAST(i*step AS INT) AS box_left,
          CAST(j*step AS INT) AS box_top
        """
    caption_col = (
        f", '{spec.caption}' AS caption" if spec.caption is not None else ""
    )
    return f"""
WITH {images_cte},
sized AS (
  SELECT *, {tile_expr} AS tile_size,
         CAST({tile_expr} - floor({spec.overlap_ratio} * {tile_expr}) AS INT) AS step
  FROM images_meta
),
grids AS (
  SELECT *,
         CAST(greatest(0, floor((width  - {spec.padding}) / step)) AS INT) AS h_tiles,
         CAST(greatest(0, floor((height - {spec.padding}) / step)) AS INT) AS v_tiles
  FROM sized
),
exploded AS (
  SELECT g.*, CAST(jj.j AS INT) AS j, CAST(ii.i AS INT) AS i
  FROM grids g,
       LATERAL (SELECT unnest(generate_series(0, g.v_tiles - 1)) AS j) jj,
       LATERAL (SELECT unnest(generate_series(0, g.h_tiles - 1)) AS i) ii
  WHERE g.h_tiles > 0 AND g.v_tiles > 0
),
boxed AS (
  SELECT image_id, basename, i, j, width, height, tile_size, step, {box}
  FROM exploded
)
SELECT image_id, basename, i, j, box_left, box_top,
       CAST(least(box_left + tile_size, width)  AS INT) AS box_right,
       CAST(least(box_top  + tile_size, height) AS INT) AS box_bottom,
       CAST(least(box_left + tile_size, width)  - box_left AS INT) AS tile_w,
       CAST(least(box_top  + tile_size, height) - box_top  AS INT) AS tile_h,
       format('{{}}_tile_{{}}_{{}}.{ext}', basename, i, j) AS tile_name
       {caption_col}
FROM boxed
"""
