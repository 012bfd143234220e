"""Shared multimodal query plumbing: the Arrow-batch probe and the
id fan-out helper every codec-family query module builds on (split
out of multimodal/queries.py in round 10 — VERDICT r9 next #5, the
same thematic regroup the relational strata got in round 9).

``mm_decode_meta`` proves the mapInPandas plumbing itself against a
pure-SQL oracle: the "decoded" dimensions are pure functions of the
byte length, so any dropped/reordered/duplicated Arrow row breaks the
hash. ``_fanout`` is the doc_id repartition ahead of Python codec
kernels — the whole perf fix for kernel-bound families (13.2s -> 1.6s
at sf0.1), pinned in tests/test_plan_shape.py.
"""
from __future__ import annotations

import os

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog

DECODE_SCHEMA = "doc_id long, n_bytes int, fake_width int, fake_height int, checksum bigint"


def fake_decode_meta(binary_df: DataFrame) -> DataFrame:
    """mapInPandas kernel: deterministic dims + additive checksum from
    the payload bytes (the checksum touches every byte, so content
    corruption — not just length drift — would surface)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            blobs = pdf["content"].map(bytes)
            n = blobs.map(len).to_numpy(dtype=np.int64)
            # one Arrow-side concat + a single frombuffer/reduceat pass
            # (no per-row Python sum): additive checksum per blob
            joined = np.frombuffer(b"".join(blobs), dtype=np.uint8)
            ends = np.cumsum(n)
            starts = ends - n
            # prefix-sum difference: exact per-blob sums, robust to
            # empty blobs anywhere in the batch
            csum = np.zeros(joined.size + 1, dtype=np.int64)
            np.cumsum(joined, out=csum[1:])
            sums = csum[ends] - csum[starts]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(dtype=np.int64),
                    "n_bytes": n.astype(np.int32),
                    "fake_width": (n % 100 + 1).astype(np.int32),
                    "fake_height": (n // 100 + 1).astype(np.int32),
                    "checksum": sums,
                }
            )

    return binary_df.mapInPandas(run, schema=DECODE_SCHEMA)


def _q_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    binary = docs.select("doc_id", F.encode("text", "utf-8").alias("content"))
    return fake_decode_meta(binary)


# ascii corpus: byte length == char length; checksum == sum of ascii
# codes, computable in SQL via the same posexplode-free char trick
DECODE_META_DUCK = """
WITH chars AS (
  SELECT doc_id, len(text) AS n,
         list_sum(list_transform(string_split(text, ''), c -> ascii(c))) AS cks
  FROM documents
)
SELECT doc_id,
       CAST(n AS INT) AS n_bytes,
       CAST(n % 100 + 1 AS INT) AS fake_width,
       CAST(n // 100 + 1 AS INT) AS fake_height,
       CAST(cks AS BIGINT) AS checksum
FROM chars
"""

# Round 16 (VERDICT r15 next #3, the catalog.fanout rule applied to
# the mm kernels): minimum rows a LIGHT kernel task should hold. An
# in-session sweep of every mm query at fan widths 32 vs 8 (sf0.1,
# recorded in OPTIMIZATION_r16.md at git 0753e1d, since deleted)
# split the family cleanly:
# the per-bit entropy decoders (vp8, progressive/tiled/lossless
# codecs, exif scrub) want every slot (ratios 0.4-0.6 — keep the
# full-width fan), while the vectorized-numpy kernels (audio
# features/resample/VAD, frame sampling, scene cuts, packed-raw and
# depth roundtrips) lose 1.3-2.6x to sub-200-row task fragmentation
# and want >= this many rows per task. Light call sites pass ``rows``
# (the cached documents count); at production row counts the cap
# saturates at full parallelism, so the split is bench-visible only
# where the input is small.
LIGHT_ROWS_PER_TASK = int(
    os.environ.get("SPARK_GRAFT_MM_LIGHT_ROWS_PER_TASK", "512")
)


def _fanout(
    spark: SparkSession, docs: DataFrame, rows: int | None = None
) -> DataFrame:
    """doc_id-only fan-out ahead of a CPU-bound Python kernel.

    The documents scan is one small parquet file -> 1-2 input
    partitions, so without this every codec kernel below runs on one
    or two cores (mm_jpeg_roundtrip measured 13.2 s at sf0.1 that
    way). Repartitioning JUST the 8-byte ids costs a trivial shuffle
    and spreads the per-row encode/decode across all slots — the same
    shape a 1000-executor decode stage needs, where the scan
    parallelism (file count) and the kernel parallelism (CPU) are
    unrelated quantities. ``rows`` caps the width at
    rows / LIGHT_ROWS_PER_TASK for light vectorized kernels (see
    LIGHT_ROWS_PER_TASK above)."""
    par = spark.sparkContext.defaultParallelism
    if rows is not None:
        par = max(1, min(par, rows // LIGHT_ROWS_PER_TASK))
    return docs.select("doc_id").repartition(par)


QUERIES = {
    "mm_decode_meta": _q_decode_meta,
}
ORACLES = {
    "mm_decode_meta": DECODE_META_DUCK,
}
