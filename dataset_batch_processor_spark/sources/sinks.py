"""Sinks — SURVEY.md §2.2 (K1-K10).

The reference writes loose files next to its inputs; at scale the
primary output is always a TABLE (parquet), with loose-file layouts
(sidecar .txt, split_<k>.txt, zip) provided as opt-in exporters that
run ``foreachPartition`` so no data funnels through the driver.

Write-mode contract (K9): the reference refuses to run unless the
output folder exists AND is empty (/root/reference/modules/
utils.py:11-16) — Spark's ``mode("errorifexists")`` is the same
guarantee minus the must-pre-exist quirk (which the reference itself
applies inconsistently, SURVEY.md §2.2 K9).
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_table(df: DataFrame, path: str, mode: str = "errorifexists") -> None:
    """K1-at-scale: the canonical sink — parquet table, K9 semantics."""
    df.write.mode(mode).parquet(path)


def write_routed(df: DataFrame, path: str, route_col: str = "route") -> None:
    """K8/F4 routing sink: one partition directory per route — the
    immutable replacement for shutil.move between folders
    (filter_crop.py:49-54). Input rows are never mutated; the routes
    are complementary partitions of one write."""
    df.write.partitionBy(route_col).mode("errorifexists").parquet(path)


def export_sidecar_files(df: DataFrame, out_dir: str, name_col: str = "tile_name",
                         caption_col: str = "caption") -> int:
    """K2 sidecar exporter: one ``<name>.txt`` per row, written by the
    executors via foreachPartition (driver never sees the data).

    This reproduces the reference's per-tile caption files
    (tiling.py:71-75) as an OPT-IN export — the engine's primary
    caption representation is the column itself.
    Returns the number of files written (count of non-null captions).
    """
    os.makedirs(out_dir, exist_ok=True)
    target = df.select(name_col, caption_col).filter(F.col(caption_col).isNotNull())

    def write_partition(rows):
        for row in rows:
            stem = row[0].rsplit(".", 1)[0]
            with open(os.path.join(out_dir, stem + ".txt"), "w") as fh:
                fh.write(row[1])

    target.foreachPartition(write_partition)
    return target.count()


def export_merged_text(df: DataFrame, out_path: str, sep: str = "\n\n") -> int:
    """K3 merged-text sink, small-corpus convenience form: materializes
    textops.merge_text's one merged row on the driver and writes one
    file. Keep for oracle parity and modest inputs; the scale path is
    :func:`export_merged_text_distributed` (no single-reducer string).
    Returns the number of merged lines (the same aggregate's count)."""
    from ..operators.textops import merge_text

    row = merge_text(df, sep=sep).collect()[0]
    with open(out_path, "w") as fh:
        fh.write(row["merged"])
    return row["n_lines"]


def _write_ordered_parts(ordered: DataFrame, out_dir: str, fmt) -> int:
    """Shared ordered-part writer (round-11 review #4: the merged-text
    and purged-lines sinks had copy-pasted partition writers that
    could silently diverge). ``ordered`` must already be arranged so
    partition index order is global order and rows are sorted within
    partitions; ``fmt(fh, row)`` writes ONE record. Each executor
    lazily opens its own ``part-<pid>.txt`` (empty partitions write
    nothing), memory stays bounded by one record, and the
    byte-concatenation of the parts in partition-id order is the
    single logical file. Ids are zero-padded to 9 digits (ADVICE r11:
    at 100 TB repartitionByRange can exceed 5 digits, where
    'part-100000' sorts lexicographically before 'part-99999'), and
    in-house consumers additionally sort by the PARSED id
    (pipeline.py) so even foreign-width files order correctly.
    Returns the number of part files written."""
    import glob

    from pyspark import TaskContext

    os.makedirs(out_dir, exist_ok=True)

    def write_partition(rows):
        fh = None
        try:
            for row in rows:
                if fh is None:
                    pid = TaskContext.get().partitionId()
                    fh = open(
                        os.path.join(out_dir, f"part-{pid:09d}.txt"), "w"
                    )
                fmt(fh, row)
        finally:
            if fh is not None:
                fh.close()

    ordered.foreachPartition(write_partition)
    return len(glob.glob(os.path.join(out_dir, "part-*.txt")))


def export_merged_text_distributed(
    df: DataFrame, out_dir: str, sep: str = "\n\n"
) -> int:
    """K3 at scale: the ordered merge WITHOUT ever materializing the
    merged string (round-1 verdict 'What's wrong #2': one collect_list
    row OOMs an executor at 100 TB).

    attach_global_row_number range-partitions on the merge order
    (input_file, line_no), so partition index order IS global order and
    rows are sorted within each partition. Record ``rn`` is prefixed by
    ``sep`` unless it is the global first, so the part concatenation
    equals exactly what export_merged_text writes (asserted in
    tests/test_textops.py)."""
    from ..operators.textops import attach_global_row_number

    numbered = attach_global_row_number(df).select("rn", "value")

    def fmt(fh, row):
        if row["rn"] > 1:
            fh.write(sep)
        fh.write(row["value"])

    return _write_ordered_parts(numbered, out_dir, fmt)


def export_ordered_lines_distributed(df: DataFrame, out_dir: str) -> int:
    """K5's scale half (round 11, VERDICT r10 wrong #4): stream
    ``(rn, value)`` rows as newline-terminated lines to ordered part
    files — ``repartitionByRange(rn)`` makes partition index order the
    global order (rn may be SPARSE, e.g. first-occurrence ranks after
    a dedup, so this re-ranges rather than trusting upstream layout),
    and the part concatenation reproduces the single purged file
    exactly."""
    ordered = df.select("rn", "value").repartitionByRange(
        "rn"
    ).sortWithinPartitions("rn")

    def fmt(fh, row):
        fh.write(row["value"])
        fh.write("\n")

    return _write_ordered_parts(ordered, out_dir, fmt)


def export_chunked_text(df: DataFrame, out_dir: str, records_per_file: int = 50) -> int:
    """K4 chunked split sink as loose ``split_<k>.txt`` files — the
    exporter variant of textops.write_chunks. Each executor writes the
    chunks whose rows it holds after a repartition ON file_id, so one
    file is written by exactly one task (no cross-task append)."""
    from ..operators.textops import split_chunks

    os.makedirs(out_dir, exist_ok=True)
    chunks = split_chunks(df, records_per_file)
    joined = chunks.join(df, ["line_no", "input_file"]).select(
        "file_id", "rn", "value"
    )

    def write_partition(rows):
        by_file: dict[int, list[tuple[int, str]]] = {}
        for r in rows:
            by_file.setdefault(r["file_id"], []).append((r["rn"], r["value"]))
        for fid, lines in by_file.items():
            lines.sort()
            with open(os.path.join(out_dir, f"split_{fid}.txt"), "w") as fh:
                for _, v in lines:
                    fh.write(v + "\n")

    joined.repartition("file_id").foreachPartition(write_partition)
    return joined.select("file_id").distinct().count()


def export_crop_reports(routed: DataFrame, out_dir: str) -> int:
    """K6 recommended-crop report sink: one .txt per incompatible
    image with recommended dims + the reference's 3 fixed advice lines
    (filter_crop.py:15-25)."""
    os.makedirs(out_dir, exist_ok=True)
    inc = routed.filter(F.col("route") == "incompatible").select(
        "basename", "width", "height", "rec_w", "rec_h"
    )

    def write_partition(rows):
        for r in rows:
            with open(os.path.join(out_dir, r["basename"] + ".txt"), "w") as fh:
                fh.write(
                    f"Original size: {r['width']}x{r['height']}\n"
                    f"Recommended crop: {r['rec_w']}x{r['rec_h']}\n"
                    "Crop from the center for best results.\n"
                    "Or rescale to a compatible size.\n"
                    "Then re-run the filter.\n"
                )

    inc.foreachPartition(write_partition)
    return inc.count()


def create_zip(folder: str, zip_name: str = "output.zip") -> str:
    """K7 zip sink — a driver-side post-step, as in the reference
    (tiling.py:96-108). Deviation (SURVEY.md §2.9.10): arcnames keep
    their path relative to ``folder`` instead of being flattened, so
    no silent collisions."""
    zip_path = os.path.join(folder, zip_name)
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(folder):
            for f in sorted(files):
                full = os.path.join(root, f)
                if os.path.abspath(full) == os.path.abspath(zip_path):
                    continue
                zf.write(full, arcname=os.path.relpath(full, folder))
    return zip_path
