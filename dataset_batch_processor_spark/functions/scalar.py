"""Scalar expression library — SURVEY.md §2.3 (P1-P11).

Each reference formula re-expressed as a pure Column expression so it
stays inside whole-stage codegen (no Python in the hot path). Every
function documents the reference file:line it reproduces.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# F1 extension predicate, /root/reference/modules/filter_crop.py:39
EXT_PATTERN = r"(?i)\.(png|jpg|jpeg|heic|cr2|nef|arw|dng)$"


def step_size(tile_size: Column | int, overlap_ratio: Column | float) -> Column:
    """P1: ``tile_size - int(overlap_ratio * tile_size)`` — truncation,
    not rounding (/root/reference/modules/tiling.py:28).

    The reference crashes when overlap_ratio == 1.0 (step 0 → div by
    zero downstream, SURVEY.md §2.9.5); callers must validate
    0 <= overlap < 1 via :func:`validate_overlap`.
    """
    tile = F.lit(tile_size) if isinstance(tile_size, int) else tile_size
    ov = F.lit(overlap_ratio) if isinstance(overlap_ratio, float) else overlap_ratio
    return (tile - F.floor(ov * tile)).cast("int")


def validate_overlap(overlap_ratio: float) -> None:
    """Documented deviation from the reference: reject overlap==1.0
    instead of ZeroDivisionError (SURVEY.md §2.9.5)."""
    if not (0.0 <= overlap_ratio < 1.0):
        raise ValueError(
            f"overlap_ratio must be in [0, 1), got {overlap_ratio} "
            "(the reference crashes with step=0 at tiling.py:29-30)"
        )


def recommended_dim(dim: Column, tile: Column | int, step: Column | int) -> Column:
    """P2 per-dimension: ``min(((d - tile) // step) * step + tile, d)``
    (/root/reference/modules/filter_crop.py:6-13). Caller guards the
    d < tile case (dimension passes through unchanged)."""
    tile = F.lit(tile) if isinstance(tile, int) else tile
    step = F.lit(step) if isinstance(step, int) else step
    return F.least(
        (F.floor((dim - tile) / step) * step + tile).cast("int"), dim.cast("int")
    )


def recommended_crop(
    w: Column, h: Column, tile: Column | int, step: Column | int
) -> tuple[Column, Column]:
    """P2: if either dim < tile the dims pass through unchanged, else
    each dim snaps down to the tileable grid
    (/root/reference/modules/filter_crop.py:6-13)."""
    tile_c = F.lit(tile) if isinstance(tile, int) else tile
    too_small = (w < tile_c) | (h < tile_c)
    rec_w = F.when(too_small, w.cast("int")).otherwise(recommended_dim(w, tile, step))
    rec_h = F.when(too_small, h.cast("int")).otherwise(recommended_dim(h, tile, step))
    return rec_w, rec_h


def center_crop_box(
    w: Column, h: Column, new_w: Column, new_h: Column
) -> tuple[Column, Column, Column, Column]:
    """P3: ``left=(w-new_w)//2, top=(h-new_h)//2`` box
    (/root/reference/modules/filter_crop.py:93-95)."""
    left = F.floor((w - new_w) / 2).cast("int")
    top = F.floor((h - new_h) / 2).cast("int")
    return left, top, (left + new_w).cast("int"), (top + new_h).cast("int")


def tile_counts(
    w: Column, h: Column, padding: Column | int, step: Column | int
) -> tuple[Column, Column]:
    """P4: ``h_tiles = max(0, (w - padding) // step)`` and likewise for
    v_tiles — padding shrinks the scanned area
    (/root/reference/modules/tiling.py:29-30)."""
    padding = F.lit(padding) if isinstance(padding, int) else padding
    step = F.lit(step) if isinstance(step, int) else step
    h_tiles = F.greatest(F.lit(0), F.floor((w - padding) / step)).cast("int")
    v_tiles = F.greatest(F.lit(0), F.floor((h - padding) / step)).cast("int")
    return h_tiles, v_tiles


def tile_box(
    i: Column, j: Column, tile: Column | int, step: Column | int, w: Column, h: Column
) -> tuple[Column, Column, Column, Column]:
    """P5: ``left=i*step; upper=j*step; right=min(left+tile, w);
    lower=min(upper+tile, h)`` (/root/reference/modules/tiling.py:38-41)."""
    tile = F.lit(tile) if isinstance(tile, int) else tile
    step = F.lit(step) if isinstance(step, int) else step
    left = (i * step).cast("int")
    upper = (j * step).cast("int")
    right = F.least(left + tile, w.cast("int")).cast("int")
    lower = F.least(upper + tile, h.cast("int")).cast("int")
    return left, upper, right, lower


def auto_adjust_box(
    left: Column, upper: Column, tile: Column | int, w: Column, h: Column
) -> tuple[Column, Column, Column, Column]:
    """G4 'Auto Adjust' pad option: shift the window left/up so a full
    tile fits inside the image, duplicating content instead of padding
    (/root/reference/modules/tiling.py:43-49)."""
    tile = F.lit(tile) if isinstance(tile, int) else tile
    adj_left = F.when(left + tile > w, F.greatest(w - tile, F.lit(0))).otherwise(left)
    adj_upper = F.when(upper + tile > h, F.greatest(h - tile, F.lit(0))).otherwise(upper)
    adj_left = adj_left.cast("int")
    adj_upper = adj_upper.cast("int")
    right = F.least(adj_left + tile, w.cast("int")).cast("int")
    lower = F.least(adj_upper + tile, h.cast("int")).cast("int")
    return adj_left, adj_upper, right, lower


def derived_tile_size(w: Column, h: Column, num_tiles: Column | int) -> Column:
    """P6: ``tile_size = min(w, h) // int(num_tiles ** 0.5)`` —
    truncated sqrt gives an approximate count
    (/root/reference/modules/tiling.py:25-26)."""
    num = F.lit(num_tiles) if isinstance(num_tiles, int) else num_tiles
    return F.floor(F.least(w, h) / F.floor(F.sqrt(num))).cast("int")


def tile_filename(
    base: Column, i: Column, j: Column, save_format: Column | str
) -> Column:
    """P8: ``f"{base}_tile_{i}_{j}.{ext}"`` where ext is jpg iff the
    save format is JPEG else png (/root/reference/modules/tiling.py:64-67)."""
    fmt = F.lit(save_format) if isinstance(save_format, str) else save_format
    ext = F.when(format_name(fmt) == "JPEG", F.lit("jpg")).otherwise(F.lit("png"))
    return F.format_string("%s_tile_%d_%d.%s", base, i, j, ext)


def format_name(fmt: Column | str) -> Column:
    """P11: ``{"JPG": "JPEG", "PNG": "PNG", "NONE": "PNG"}`` default PNG
    (/root/reference/modules/tiling.py:32-33)."""
    fmt = F.lit(fmt) if isinstance(fmt, str) else fmt
    return F.when(F.upper(fmt) == "JPG", F.lit("JPEG")).otherwise(F.lit("PNG"))


def normalize_caption(c: Column) -> Column:
    """P10: ``line.strip()`` (/root/reference/modules/caption_manager.py:11)."""
    return F.trim(c)


def is_nonempty_caption(c: Column) -> Column:
    """F6: drop blank/whitespace-only captions
    (/root/reference/modules/caption_manager.py:11)."""
    return F.length(F.trim(c)) > 0


def too_small(w: Column, h: Column, tile: Column | int) -> Column:
    """F2: ``width < tile_size OR height < tile_size``
    (/root/reference/modules/filter_crop.py:48)."""
    tile = F.lit(tile) if isinstance(tile, int) else tile
    return (w < tile) | (h < tile)


def not_tileable(w: Column, h: Column, tile: Column | int, step: Column | int) -> Column:
    """F3: ``((w - tile) % step != 0) OR ((h - tile) % step != 0)``
    (/root/reference/modules/filter_crop.py:57)."""
    tile = F.lit(tile) if isinstance(tile, int) else tile
    step = F.lit(step) if isinstance(step, int) else step
    return (F.pmod(w - tile, step) != 0) | (F.pmod(h - tile, step) != 0)


def has_image_extension(path: Column) -> Column:
    """F1: case-insensitive suffix in the allowed image-extension set
    (/root/reference/modules/filter_crop.py:39)."""
    return path.rlike(EXT_PATTERN)
