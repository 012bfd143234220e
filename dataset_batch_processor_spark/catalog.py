"""Fixture catalog: driver-provided parquet tables + reference-derived views.

The driver materializes ten parquet tables per scale factor
(TESTDATA.md). The reference's own data collections (image folders,
sidecar captions, line-oriented text files — SURVEY.md §1.1) are
modeled as deterministic SQL views over those tables (FIXTURES.md),
so the Spark engine and the DuckDB oracle compute them identically.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .matcache import file_fact, read_parquet


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture table ``name`` of ``sf_dir``. Its schema is inferred
    once per session and file version (``matcache.read_parquet``): the
    first call pays the one-task footer job, every later call builds
    with no Spark job, and a table rewritten in place (a new
    modification time or length) is inferred again."""
    if name == "events":
        return load_events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


# Minimum rows a rows-sized fanned task should hold: the one fanout
# rule for every Arrow/Python-kernel stage. A fanout to
# defaultParallelism is right for the md5/gram chains (huge per-row
# cost), but a Python-kernel stage over a few thousand rows fragments
# into sub-100-row tasks whose fixed JVM<->Python round-trip dominates
# — measured at sf0.1 the 2000-row exact-cosine stage runs 1.25 s at
# 32 partitions vs 0.69 s at 8 (250 rows/task), and the vectorized
# mm kernels (audio features/resample/VAD, frame sampling, packed-raw
# and depth roundtrips) lost 1.3-2.6x to sub-200-row tasks. Call sites
# whose per-row work is kernel class pass ``rows`` (the rows that
# reach the kernel); sites with dominant per-row cost (md5/gram
# chains, per-bit entropy decoders) keep the full-width fan.
FANOUT_ROWS_PER_TASK = 256


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a fixture table for fanout sizing: a
    parquet-metadata count job, run once per session and file version
    (``matcache.file_fact``, the key of ``load_table``'s schema)."""
    return file_fact(spark, f"{sf_dir}/{name}.parquet", "rows",
                     lambda: load_table(spark, sf_dir, name).count())


def fanout(df: DataFrame, rows: int | None = None) -> DataFrame:
    """Spread an unsplittable small scan across the worker slots ahead
    of a CPU-bound per-row chain (optimization guide §2.5: "one huge
    unsplittable file -> repartition immediately after the read").

    The fixture tables are single-row-group parquet files, so a scan
    yields ONE input partition and every pre-shuffle chain (gram
    explode + hash + partial aggregation) runs in one task regardless
    of core count — measured 2-2.5x on the md5/gram-heavy document
    chains at sf0.1. The guard makes it scale-correct: a production
    multi-file table already scans at least as wide as the
    parallelism and passes through untouched, so the exchange exists
    exactly where the input layout starves the stage. Round-robin
    repartition is deterministic under retry (Spark sorts before
    round-robin, SPARK-23207), and the per-row chains this guards are
    row-independent, so results are partitioning-invariant (each
    consumer's oracle gate re-proves it).

    Applied per MEASURED call site, not in load_table: cheap scans
    (simple projections, broadcast sides) lose more to the exchange
    than the fan-out returns — the sweep numbers are in
    OPTIMIZATION_r15.md at git 0753e1d, since deleted.

    ``rows``: when the caller knows how many rows reach its kernel
    (from catalog.table_rows) and its per-row work is Arrow-kernel
    class, the fan width is capped at rows / FANOUT_ROWS_PER_TASK so
    tasks never shrink below the batch size where the Python
    round-trip dominates; omitted, the fan is full width (right for
    the heavy md5/gram chains). The multimodal fixture queries pick
    one or the other through ``multimodal.qcommon.per_doc``'s
    ``sized`` flag rather than passing ``rows`` themselves."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if rows is not None:
        par = max(1, min(par, rows // FANOUT_ROWS_PER_TASK))
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


@contextlib.contextmanager
def shuffle_partitions(spark: SparkSession, n: int | str):
    """Scope ``spark.sql.shuffle.partitions`` to ``n``, restoring the
    session's value on ANY exit, so an error mid-query can't leak the
    sizing into the long-lived session."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Some fixture generations store ``ts`` as TIMESTAMP(NANOS),
    which Spark's parquet reader rejects outright; others store
    timestamp[us], which reads natively. Handle both: the session
    reads nanos as long (``session.get_spark``), and
    :func:`normalize_event_ts` floors them to microseconds — exactly
    what DuckDB's TIMESTAMP_NS → TIMESTAMP cast does (event times are
    post-epoch, so floor == trunc) — and passes native timestamps
    through."""
    return normalize_event_ts(read_parquet(spark, f"{sf_dir}/events.parquet"))


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Floor a nanos-as-long ``ts`` column to a micros timestamp;
    lift TIMESTAMP_NTZ to TIMESTAMP. The cast keeps ``ts`` one
    consistent TIMESTAMP type across fixture generations, matching
    the batch path and the DuckDB oracle's rendering under the pinned
    UTC session timezone (Spark itself accepts NTZ in
    window()/withWatermark since 3.4, SPARK-38714 — parity, not a
    Spark requirement). Shared by the batch loader and the streaming
    readers (which build their own readStream and can't go through
    load_events).

    A plain tz-adjusted ``timestamp`` (parquet isAdjustedToUTC=true)
    passes through unchanged: Spark renders it in the pinned UTC
    session timezone, and the oracle harness must likewise pin
    DuckDB's TimeZone to UTC (the driver reads the same parquet in
    both engines) — any other ``ts`` type is rejected loudly rather
    than silently diverging."""
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    elif dt not in (None, "timestamp"):
        raise TypeError(
            f"events.ts has unsupported type {dt!r}; expected bigint "
            "(nanos), timestamp_ntz, or timestamp"
        )
    return df


def images_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-folder abstraction (SURVEY.md §1.1; reference scan
    loops at /root/reference/modules/filter_crop.py:36-46).

    One row per synthetic image; dims derived deterministically from
    ``part`` (FIXTURES.md) so DuckDB agrees exactly.
    """
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("image_id"),
        F.concat(F.lit("img_"), F.col("p_partkey")).alias("basename"),
        F.element_at(
            F.array(F.lit("png"), F.lit("jpg"), F.lit("jpeg"), F.lit("heic")),
            (F.col("p_partkey") % 4 + 1).cast("int"),
        ).alias("ext"),
        (F.lit(512) + (F.col("p_partkey") * 37) % 3584).cast("int").alias("width"),
        (F.lit(512) + (F.col("p_partkey") * 53) % 3584).cast("int").alias("height"),
    )


# Inline DuckDB-compatible CTE of the same view, for oracle_sql()
# strings (DuckDB only has the base tables registered as views).
IMAGES_META_SQL = """
images_meta AS (
  SELECT p_partkey AS image_id,
         concat('img_', p_partkey) AS basename,
         CASE (p_partkey % 4) WHEN 0 THEN 'png' WHEN 1 THEN 'jpg'
              WHEN 2 THEN 'jpeg' ELSE 'heic' END AS ext,
         CAST(512 + (p_partkey * 37) % 3584 AS INT) AS width,
         CAST(512 + (p_partkey * 53) % 3584 AS INT) AS height
  FROM part
)
"""


def captions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sidecar caption set keyed by basename (SURVEY.md §1.1; the
    image<->caption FK at /root/reference/modules/skip_tiles.py:41-48).
    ~1/3 of images lack a sidecar, exercising the left join's nulls.
    """
    part = load_table(spark, sf_dir, "part")
    return part.filter(F.col("p_partkey") % 3 != 0).select(
        F.concat(F.lit("img_"), F.col("p_partkey")).alias("basename"),
        F.col("p_name").alias("caption"),
    )


CAPTIONS_SQL = """
captions AS (
  SELECT concat('img_', p_partkey) AS basename, p_name AS caption
  FROM part WHERE p_partkey % 3 <> 0
)
"""


def text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text-file abstraction (SURVEY.md §1.1; the
    ``for line in infile`` loops at
    /root/reference/modules/other_tasks.py:85-87,108-109).

    ``line_no`` makes the reference's implicit sequential-read order
    explicit; ``input_file`` models 8 synthetic source files for
    merge-order semantics (A2).
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("line_no"),
        F.concat(F.lit("f_"), F.col("doc_id") % 8).alias("input_file"),
        F.col("text").alias("value"),
    )


TEXT_LINES_SQL = """
text_lines AS (
  SELECT doc_id AS line_no,
         concat('f_', doc_id % 8) AS input_file,
         text AS value
  FROM documents
)
"""


def caption_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRU caption dictionary (Unified_Caps.txt,
    /root/reference/modules/caption_manager.py:3-26) as a tiny
    dimension table with a monotone recency surrogate."""
    part = load_table(spark, sf_dir, "part")
    return part.groupBy(F.col("p_brand").alias("caption")).agg(
        F.max("p_partkey").alias("last_used_seq")
    )


CAPTION_DICT_SQL = """
caption_dict AS (
  SELECT p_brand AS caption, max(p_partkey) AS last_used_seq
  FROM part GROUP BY p_brand
)
"""
