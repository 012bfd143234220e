"""Line-oriented text operators — SURVEY.md §2.7/§2.8 (A2, A3, A4, W1, K4).

The reference processes text files one line at a time on one thread
(/root/reference/modules/other_tasks.py). Here every operator is a
DataFrame transformation over the ``text_lines`` abstraction
(line_no, input_file, value); order is an explicit column, never an
artifact of read sequence.

Scale notes:
- A4 dedup is one hash-partial-agg shuffle on the line payload; at
  100 TB that is the canonical map-side-combine groupBy — no global
  sort needed because order is recovered from min(line_no).
- W1 chunk assignment needs a global row_number; a single-partition
  window would serialize 100 TB through one task, so the scalable
  path computes per-partition counts and adds offsets (see
  :func:`attach_global_row_number`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_text(lines: DataFrame, sep: str = "\n\n") -> DataFrame:
    """A2 ordered concat-all (merge .txt files,
    /root/reference/modules/other_tasks.py:6-26).

    The reference's file order is os.listdir order — filesystem
    dependent. Documented deviation (SURVEY.md §2.9.11): this engine
    DEFINES the order as (input_file, line_no) lexicographic.
    """
    # collect_list order is not guaranteed across partitions, so sort
    # explicitly: collect (input_file, line_no, value) structs and
    # array_sort (struct compare = field order) before joining.
    arr = F.array_sort(F.collect_list(F.struct("input_file", "line_no", "value")))
    return lines.agg(
        F.concat_ws(sep, F.transform(arr, lambda s: s["value"])).alias("merged"),
        F.count("*").alias("n_lines"),
    )


MERGE_TEXT_SQL = """
WITH {text_lines_cte}
SELECT string_agg(value, '\n\n' ORDER BY input_file, line_no) AS merged,
       count(*) AS n_lines
FROM text_lines
"""


def dedup_lines(lines: DataFrame, key_len: int | None = None) -> DataFrame:
    """A4 order-preserving first-occurrence dedup
    (/root/reference/modules/other_tasks.py:110-117).

    Identity is the exact line content (optionally truncated to
    ``key_len`` chars to force collisions in the synthetic corpus —
    FIXTURES.md). NOT dropDuplicates(): order must be recoverable, so
    the plan is groupBy(value).min(line_no) — one shuffle, map-side
    combine, and first_line_no itself encodes the original order.
    """
    key = F.col("value") if key_len is None else F.substring("value", 1, key_len)
    return (
        lines.groupBy(key.alias("line_key"))
        .agg(F.min("line_no").alias("first_line_no"))
        .orderBy("first_line_no")
    )


DEDUP_LINES_SQL = """
WITH {text_lines_cte}
SELECT substr(value, 1, {key_len}) AS line_key,
       min(line_no) AS first_line_no
FROM text_lines
GROUP BY 1 ORDER BY first_line_no
"""


def dedup_stats(lines: DataFrame, key_len: int | None = None) -> DataFrame:
    """A3 removed-duplicates count: original - distinct
    (/root/reference/modules/other_tasks.py:110,117)."""
    key = F.col("value") if key_len is None else F.substring("value", 1, key_len)
    return lines.agg(
        F.count("*").alias("original_count"),
        F.countDistinct(key).alias("unique_count"),
        (F.count("*") - F.countDistinct(key)).alias("removed_count"),
    )


DEDUP_STATS_SQL = """
WITH {text_lines_cte}
SELECT count(*) AS original_count,
       count(DISTINCT substr(value, 1, {key_len})) AS unique_count,
       count(*) - count(DISTINCT substr(value, 1, {key_len})) AS removed_count
FROM text_lines
"""


def attach_global_row_number(lines: DataFrame) -> DataFrame:
    """Scalable global row_number ordered by (input_file, line_no).

    A naive ``row_number() OVER (ORDER BY ...)`` funnels everything
    through ONE partition — fine at sf0.01, fatal at 100 TB. The
    scalable pattern: range-repartition on the order key (so ranges
    are contiguous per partition), count rows per partition, broadcast
    the per-partition offsets, add offset + intra-partition rank.

    Implementation: ONE full-data shuffle (repartitionByRange on the
    order key) + sortWithinPartitions, then the intra-partition index
    is recovered for free from monotonically_increasing_id (which is
    ``partition_id * 2^33 + index_within_partition`` by construction)
    — no second shuffle for a window over the partition id. The only
    other exchange moves one count per partition (bytes, not data).

    Output rn is deterministic because the order key is a total order
    (unique (input_file, line_no)); range-boundary sampling only
    decides WHERE a row sits, never its global rank.
    """
    return attach_rank(lines, ["input_file", "line_no"], out_col="rn")


def attach_rank(
    df: DataFrame, order_cols: list[str], out_col: str = "rn"
) -> DataFrame:
    """Generic scalable global row_number over an arbitrary total order.

    Same two-pass machinery as :func:`attach_global_row_number`
    (range-repartition + per-partition offsets), parameterized on the
    order key so rank-based scorers (Zipf vocab rank, top-k fusion)
    never reach for an unpartitioned ``row_number() OVER (ORDER BY)``.
    ``order_cols`` must form a TOTAL order (pass a unique tiebreak
    column last) — ranks ascend in that order; for a descending
    component, pass a pre-negated column.
    """
    ranged = df.repartitionByRange(
        *[F.col(c) for c in order_cols]
    ).sortWithinPartitions(*order_cols)
    # CHECKPOINT before fanning out: the offsets branch and the output
    # branch below both depend on the partition ids, and range
    # partitioning samples its boundaries NON-deterministically per
    # evaluation (RangePartitioner seeds by RDD id; AQE can also
    # re-plan the two branches differently). Without a materialized
    # snapshot the two branches can disagree on _pid at scale and the
    # offsets silently misalign — caught by a 2M-row microbenchmark
    # (SCALE.md). localCheckpoint freezes one partitioning for both.
    with_idx = ranged.select(
        "*",
        F.spark_partition_id().alias("_pid"),
        F.pmod(F.monotonically_increasing_id(), F.lit(1 << 33)).alias("_idx"),
    ).localCheckpoint()
    # per-partition counts are tiny (one row per partition) -> the
    # offset table is a driver-size aggregate, broadcast back
    sizes = with_idx.groupBy("_pid").agg(F.count("*").alias("_n"))
    offsets = sizes.withColumn(
        "_offset",
        F.coalesce(
            F.sum("_n").over(
                Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_pid", "_offset")
    return (
        with_idx.join(F.broadcast(offsets), "_pid")
        .withColumn(
            out_col, (F.col("_offset") + F.col("_idx") + 1).cast("long")
        )
        .drop("_pid", "_idx", "_offset")
    )


def exclusive_prefix_sum(
    df: DataFrame, order_cols: list[str], value_col: str,
    out_col: str = "prefix_sum",
) -> DataFrame:
    """Scalable exclusive running sum over a global total order.

    ``sum() OVER (ORDER BY ...)`` with no PARTITION BY serializes the
    whole dataset through one WindowExec task. The scalable form mirrors
    :func:`attach_global_row_number`: range-repartition on the order
    key, take the per-partition exclusive cumsum with a window
    PARTITIONED by the physical partition id (parallel, no single-task
    funnel), then add broadcast per-partition totals-before. Only the
    one-row-per-partition totals table crosses the cluster twice.

    Deterministic when ``order_cols`` form a total order (callers pass
    a unique tiebreak column last)."""
    ranged = df.repartitionByRange(
        *[F.col(c) for c in order_cols]
    ).sortWithinPartitions(*order_cols)
    # same checkpoint-before-fan-out as attach_global_row_number: the
    # local-cumsum branch and the totals branch must see the SAME
    # sampled range boundaries (see comment there; the regression and
    # its measurement are in SCALE.md).
    with_pid = ranged.withColumn("_pid", F.spark_partition_id()).localCheckpoint()
    intra = Window.partitionBy("_pid").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, -1
    )
    with_local = with_pid.withColumn(
        "_local", F.coalesce(F.sum(value_col).over(intra), F.lit(0))
    )
    totals = with_pid.groupBy("_pid").agg(F.sum(value_col).alias("_t"))
    offsets = totals.withColumn(
        "_before",
        F.coalesce(
            F.sum("_t").over(
                Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_pid", "_before")
    return (
        with_local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_before") + F.col("_local")).cast("long"))
        .drop("_pid", "_local", "_before")
    )


def split_chunks(lines: DataFrame, records_per_file: int = 50) -> DataFrame:
    """W1 + K4: assign each line to an output chunk of ≤N records.

    The reference counts 2 per source line (injected blank separator,
    /root/reference/modules/other_tasks.py:88,146 — SURVEY.md §2.9.3),
    so its "100 lines per file" means 50 records; this engine's
    primary knob is the sane ``records_per_file``. Trailing empty
    chunks are never emitted (deviation per SURVEY.md §2.9.4).

    Output: the input columns plus ``rn`` and ``file_id``, so a sink
    writes ``value`` without joining the input back. The chunk
    assignment (line_no, input_file, rn, file_id) is the checkable
    contract.
    """
    return attach_global_row_number(lines).withColumn(
        "file_id",
        F.floor((F.col("rn") - 1) / records_per_file).cast("long"),
    )


SPLIT_CHUNKS_SQL = """
WITH {text_lines_cte}
SELECT line_no, input_file,
       CAST(row_number() OVER (ORDER BY input_file, line_no) AS BIGINT) AS rn,
       CAST(floor(((row_number() OVER (ORDER BY input_file, line_no)) - 1)
            / {records_per_file}) AS BIGINT) AS file_id
FROM text_lines
"""


def dedup_lines_exact_bytes(lines_exact: DataFrame) -> DataFrame:
    """A4 with the reference's exact-byte identity (SURVEY.md §1.4):
    dedup key = (value, is_terminated), so "abc\\n" and a final
    unterminated "abc" stay distinct — byte parity with
    ``if line not in seen`` over raw readlines."""
    return (
        lines_exact.groupBy("value", "is_terminated")
        .agg(F.min("line_no").alias("first_line_no"))
        .orderBy("first_line_no", "value")
    )


def dedup_lines_normalized(lines: DataFrame) -> DataFrame:
    """Extension (off-by-default normalization, SURVEY.md §1.4): dedup
    on lower(trim(value)) — the curation-pipeline variant where
    whitespace/case drift should collapse."""
    key = F.lower(F.trim(F.col("value")))
    return (
        lines.groupBy(key.alias("line_key"))
        .agg(F.min("line_no").alias("first_line_no"), F.count("*").alias("n_variants"))
        .orderBy("first_line_no")
    )


DEDUP_NORMALIZED_SQL = """
WITH {text_lines_cte}
SELECT lower(trim(value)) AS line_key,
       min(line_no) AS first_line_no,
       count(*) AS n_variants
FROM text_lines
GROUP BY 1 ORDER BY first_line_no
"""
