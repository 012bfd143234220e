"""JSONL sources — the reference treats JSONL as opaque lines.

"Split JSONL" never parses JSON (/root/reference/modules/
other_tasks.py:69-98 is byte-identical to the plain-text splitter,
SURVEY.md §1.1) — that line-oriented behavior is covered by
sources/text.py + operators/textops.py. This module adds the strict
SUPERSET the rebuild promises: a real parsed-JSON path.

- ``read_jsonl``: schema-inferred (or explicit-schema) parse;
  malformed lines go to a ``_corrupt`` column (PERMISSIVE mode)
  instead of failing the batch — the F7 quarantine pattern.
- ``split_jsonl_preserving_lines``: the reference-parity splitter —
  chunks assigned on raw lines so output files are byte-faithful,
  never re-serialized (re-serializing would reorder keys / change
  whitespace, which the reference never does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.textops import split_chunks
from .text import read_lines


def read_jsonl(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    """Parsed-JSON path with per-line corruption tolerance."""
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt"
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def jsonl_quarantine(df: DataFrame) -> DataFrame:
    if "_corrupt" not in df.columns:
        return df.limit(0)
    return df.filter(F.col("_corrupt").isNotNull())


def split_jsonl_preserving_lines(
    spark: SparkSession, path: str, records_per_file: int = 50
) -> DataFrame:
    """Reference-parity JSONL split: raw lines -> chunk ids (W1),
    bytes untouched. Returns (input_file, line_no, value, rn,
    file_id); write with ``.write.partitionBy("file_id")``."""
    return split_chunks(read_lines(spark, path), records_per_file)


# ------------------------------------------------- roundtrip query
# Same proof pattern as tabular.py's CSV/ORC roundtrips: write ->
# read -> aggregate inside the query, oracle aggregates the ORIGINAL
# parquet, so any serialization drift breaks the hash. JSON is the
# interchange format most corpus payloads actually arrive in; the
# read path is the quarantine-capable read_jsonl with an EXPLICIT
# schema (schema inference = a second full scan, banned at 100 TB).

JSONL_ORDERS_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE"
)

_JSONL_AGG = """
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
           AS total_price
FROM {src}
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def _q_jsonl_roundtrip(spark: SparkSession, sf_dir: str):
    from .. import catalog
    from ..matcache import scratch_dir

    orders = catalog.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    path = scratch_dir("dbp_jsonl_rt_") + "/orders"
    orders.write.mode("errorifexists").json(path)
    back = read_jsonl(spark, path, JSONL_ORDERS_SCHEMA)
    back.createOrReplaceTempView("jsonl_orders_rt")
    return spark.sql(_JSONL_AGG.format(src="jsonl_orders_rt"))


JSONL_ROUNDTRIP_DUCK = _JSONL_AGG.format(src="orders")

QUERIES = {"jsonl_roundtrip_orders": _q_jsonl_roundtrip}
ORACLES = {"jsonl_roundtrip_orders": JSONL_ROUNDTRIP_DUCK}
