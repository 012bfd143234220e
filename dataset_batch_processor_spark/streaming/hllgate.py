"""Streaming HLL distinct-count monitor — the micro-batch twin of
docs_hll_distinct_tokens (operators/hll.py), completing the sketch
family's streaming story (cms.py's CMS grid and histsketch.py's
fixed-bin histogram both already accumulate per batch; HLL registers
are the third mergeable-sketch unit).

Register maxima merge associatively (max of per-shard maxima == max
of the union — the defining HLL property), so each arriving shard
commits its (source, grain, reg, m_j) partial and merge-on-read
groupBy.max reproduces the one-pass register table EXACTLY; the
estimator (integer inverses + the ppm linear-counting relation) then
runs on the merged registers, so the drained stream equals the
one-pass batch card and the SAME DuckDB oracle gates the whole loop.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..operators import hll
from . import fixtures


def read_hll_card(spark: SparkSession, sf_dir: str, work: str) -> DataFrame:
    """Merge register partials (max — exact) and run the batch
    estimator + exact-count comparison over the merged registers.
    The exact side re-reads the drained corpus (the quality-vs-cost
    comparison column is an AUDIT read, not sketch state)."""
    catalog.load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    spark.read.parquet(os.path.join(work, "commits")).groupBy(
        "source", "grain", "reg"
    ).agg(F.max("m_j").alias("m_j")).createOrReplaceTempView(
        "hll_merged_regs"
    )
    # built from the SAME parameterized template as the batch query
    # (no textual splicing of the batch SQL)
    return spark.sql(
        hll._hll_sql("spark", regs_table="hll_merged_regs")
    )


QUERIES = {
    "docs_stream_hll_card": fixtures.Twin(
        "documents", ("doc_id", "text", "source"), "doc_id",
        hll.hll_partial, read_hll_card,
    )
}
# batch parity: register max-merge is exact, the estimator is a pure
# function of the merged registers — the SAME oracle gates the loop.
ORACLES = {"docs_stream_hll_card": hll.HLL_DUCK}
