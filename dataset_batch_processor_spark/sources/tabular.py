"""Tabular file sources/sinks: CSV and ORC, with quarantine.

The reference only reads images and raw text (SURVEY §2.1); a
general batch engine also has to ingest the tabular formats that
arrive alongside them. Both formats here are first-class Spark
sources, so the scale behavior is inherited, not reimplemented:

- CSV: splittable scan (one file can fan out across tasks), schema
  enforced EXPLICITLY — schema inference reads the data twice and is
  banned here. Malformed rows follow the same quarantine pattern as
  the image/JSONL sources (sources/images.py, sources/jsonl.py):
  PERMISSIVE mode + ``_corrupt_record`` column, split into
  (clean, quarantined) instead of failing the job.
- ORC: columnar + predicate/column pushdown (``.explain`` shows
  PushedFilters on the OrcScan), the right interchange format when
  parquet isn't the producer's native output.

The roundtrip queries prove write→read identity through an actual
on-disk roundtrip inside the query itself (same pattern as
mm_png_roundtrip): the oracle runs the aggregation on the ORIGINAL
parquet — any encode/decode corruption breaks the hash match.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog

CORRUPT_COL = "_corrupt_record"


def write_csv(
    df: DataFrame,
    path: str,
    header: bool = True,
    allow_embedded_newlines: bool = False,
) -> None:
    """Distributed CSV write (one part per partition, errorifexists).

    CONSTRAINT: the companion :func:`read_csv` is line-based (one
    record per physical line, splittable at 100 TB). The CSV writer
    legally quotes string values containing newlines, which a
    line-based reader would silently shred into quarantine. So by
    default this writer REJECTS embedded newlines at write time: each
    string column is wrapped in an inline ``raise_error`` guard —
    evaluated during the same write scan, no extra pass over the data.
    Pass ``allow_embedded_newlines=True`` only when the consumer will
    use :func:`read_csv_multiline` (non-splittable scan) instead.
    """
    if not allow_embedded_newlines:
        guarded = [
            F.when(
                F.col(f.name).contains("\n") | F.col(f.name).contains("\r"),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"write_csv: embedded newline in column "
                            f"'{f.name}' breaks the line-based read_csv "
                            "roundtrip; pass allow_embedded_newlines=True "
                            "and read back with read_csv_multiline. "
                            "Offending value: "
                        ),
                        F.col(f.name),
                    )
                ).cast("string"),
            )
            .otherwise(F.col(f.name))
            .alias(f.name)
            if f.dataType.simpleString() == "string"
            else F.col(f.name)
            for f in df.schema.fields
        ]
        df = df.select(*guarded)
    df.write.mode("errorifexists").option("header", str(header).lower()).csv(
        path
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined) CSV read with an explicit schema.

    PERMISSIVE + corrupt-record capture: a malformed line becomes one
    quarantine row (its raw text) instead of a failed 1000-executor
    job. Implemented as ``read.text`` + ``from_csv`` rather than the
    native csv reader: the native reader's internal corrupt-record
    column cannot be referenced on its own
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) and the
    documented workaround is ``.cache()`` — a non-starter for a 100 TB
    scan. With ``from_csv`` the corrupt column is an ordinary
    projected column, no cache, same splittable text scan.
    """
    lines = spark.read.text(path)
    if header:
        # write_csv emits the header as the first line of every part
        # file; with an explicit typed schema a data line can never
        # equal the header line, so an exact-match filter is safe.
        header_line = ",".join(
            f.name for f in spark.createDataFrame([], schema).schema.fields
        )
        lines = lines.filter(F.col("value") != header_line)
    parsed = lines.select(
        F.col("value"),
        F.from_csv(
            "value",
            schema + f", {CORRUPT_COL} STRING",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("r"),
    )
    clean = (
        parsed.filter(F.col(f"r.{CORRUPT_COL}").isNull())
        .select("r.*")
        .drop(CORRUPT_COL)
    )
    quarantined = parsed.filter(
        F.col(f"r.{CORRUPT_COL}").isNotNull()
    ).select(F.col("value").alias("raw_line"))
    return clean, quarantined


def read_csv_multiline(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = True,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Native CSV reader with ``multiLine=true`` — the fallback for
    data written with ``allow_embedded_newlines=True``. Records may
    span physical lines (quoted newlines parse correctly), at the
    cost of a NON-SPLITTABLE scan (one task per file — partition the
    write so files stay executor-sized) and no raw-line quarantine
    (the native corrupt-record column can't be projected alone
    without caching; use ``mode="DROPMALFORMED"`` or ``"FAILFAST"``
    to pick a malformed-row policy instead)."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("multiLine", "true")
        .option("mode", mode)
        .csv(path)
    )


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("errorifexists").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


# ------------------------------------------------- roundtrip queries

CSV_ORDERS_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderpriority STRING"
)

_ORDERS_AGG = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
           AS total_price
FROM {src}
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def _q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = catalog.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    path = tempfile.mkdtemp(prefix="dbp_csv_rt_") + "/orders"
    write_csv(orders, path)
    clean, _quar = read_csv(spark, path, CSV_ORDERS_SCHEMA)
    clean.createOrReplaceTempView("csv_orders_rt")
    return spark.sql(_ORDERS_AGG.format(src="csv_orders_rt"))


CSV_ROUNDTRIP_DUCK = _ORDERS_AGG.format(src="orders")


_LINEITEM_AGG = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(25,6))) AS DOUBLE) AS sum_revenue
FROM {src}
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Project to the columns the gated aggregate reads (guide §2.3/§6:
    # the read side's ORC column pruning means the other 11 columns
    # were encoded but never decoded — write-side waste, not proof; the
    # CSV/XML roundtrip twins already project). Profiled: the write IS
    # the query's build cost (1.53 s of 1.92 s, the round-15 profiling
    # tool at git 0753e1d, since deleted).
    li = catalog.load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    path = tempfile.mkdtemp(prefix="dbp_orc_rt_") + "/lineitem"
    write_orc(li, path)
    read_orc(spark, path).createOrReplaceTempView("orc_lineitem_rt")
    return spark.sql(_LINEITEM_AGG.format(src="orc_lineitem_rt"))


ORC_ROUNDTRIP_DUCK = _LINEITEM_AGG.format(src="lineitem")




# ----------------------------------------------------------- XML source
# Spark 4 ships the XML source natively (the formerly-external
# spark-xml) — the interchange format enterprise feeds still arrive
# in. Same write -> read -> aggregate gate as the CSV/ORC roundtrips:
# the parse (rowTag framing, type inference OFF — explicit schema)
# must reproduce the parquet-derived aggregate exactly.


def _q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout (guide §2.5): XML render and re-parse are per-row CPU,
    # and the one-row-group scan serialized both sides (write one
    # file -> read one file); 2.50 -> 1.35 s at sf0.1. The gated
    # aggregate is row-order-invariant. The CSV/ORC twins measured
    # flat-to-worse (cheaper codecs) and stay unfanned.
    orders = catalog.fanout(
        catalog.load_table(spark, sf_dir, "orders")
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    path = tempfile.mkdtemp(prefix="dbp_xml_rt_") + "/orders"
    orders.write.format("xml").option("rowTag", "order").save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(CSV_ORDERS_SCHEMA)
        .load(path)
    )
    back.createOrReplaceTempView("xml_orders_rt")
    return spark.sql(_ORDERS_AGG.format(src="xml_orders_rt"))


XML_ROUNDTRIP_DUCK = _ORDERS_AGG.format(src="orders")


QUERIES = {
    "csv_roundtrip_orders": _q_csv_roundtrip,
    "xml_roundtrip_orders": _q_xml_roundtrip,
    "orc_roundtrip_lineitem": _q_orc_roundtrip,
}
ORACLES = {
    "csv_roundtrip_orders": CSV_ROUNDTRIP_DUCK,
    "xml_roundtrip_orders": XML_ROUNDTRIP_DUCK,
    "orc_roundtrip_lineitem": ORC_ROUNDTRIP_DUCK,
}


# ------------------------------------------------------ schema evolution


def read_evolving_parquet(
    spark: SparkSession,
    path: str,
    expected_schema: str | None = None,
) -> DataFrame:
    """Read a parquet directory whose files were written under
    DIFFERENT schema versions (columns added over time — the normal
    life of a long-lived corpus table).

    ``mergeSchema`` unions the per-file footers (files missing a
    column yield typed nulls for it). When ``expected_schema`` (a DDL
    string) is given, the result is additionally CONFORMED to it:
    expected columns absent from every file are materialized as typed
    nulls, unexpected extras are dropped, and column order follows the
    expected schema — so downstream operators see one stable contract
    no matter which schema era a file came from.

    Scale note: mergeSchema reads FOOTERS of all files at planning
    time (a distributed Spark job, not a driver loop), not the data;
    with thousands of schema-identical files prefer a pinned
    ``.schema(...)`` read, which skips the merge entirely.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    df = spark.read.option("mergeSchema", "true").parquet(path)
    if expected_schema is None:
        return df
    want = StructType.fromDDL(expected_schema)
    # match case-INsensitively, like Spark's own name resolution
    # (spark.sql.caseSensitive=false): a file era that wrote "ID"
    # must satisfy an expected "id", not be nulled out as missing
    have = {f.name.lower(): f.name for f in df.schema.fields}
    cols = [
        F.col(have[f.name.lower()]).cast(f.dataType).alias(f.name)
        if f.name.lower() in have
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in want.fields
    ]
    return df.select(*cols)
