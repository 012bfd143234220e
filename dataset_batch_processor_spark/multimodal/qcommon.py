"""Shared multimodal query plumbing: the Arrow-batch probe and the one
per-doc fixture skeleton the codec-family query modules build on
(split out of multimodal/queries.py in round 10 — VERDICT r9 next #5,
the same thematic regroup the relational strata got in round 9).

``per_doc`` is the one mm fixture skeleton: every codec query that
re-proves a codec on a deterministic per-``doc_id`` fixture hands it
only its schema and a ``row(d)`` function (the fixture math); the
scan, the ``doc_id % mod == rem`` slice, the ``catalog.fanout`` ahead
of the Python kernel (the whole perf fix for kernel-bound families,
13.2s -> 1.6s at sf0.1, pinned in tests/test_plan_shape.py) and the
``mapInPandas`` boundary live here once.

``mm_decode_meta`` proves the mapInPandas plumbing itself against a
pure-SQL oracle: the "decoded" dimensions are pure functions of the
byte length, so any dropped/reordered/duplicated Arrow row breaks the
hash.
"""
from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog


def per_doc(
    spark: SparkSession,
    sf_dir: str,
    schema: str,
    row: Callable[[int], Iterable[tuple]],
    *,
    mod: int | None = None,
    rem: int = 0,
    sized: bool = False,
) -> DataFrame:
    """One ``mapInPandas`` pass over the ``documents`` ids that emits
    ``row(d)``'s tuples, in ``schema`` order, for each ``doc_id`` d.

    ``mod``/``rem`` keep only ``doc_id % mod == rem``, filtered ahead
    of the fan. ``sized`` passes ``catalog.fanout`` the rows that
    reach the kernel (``table_rows // mod``), right for Arrow-kernel
    class per-row work; unsized, the fan is full width. ``row`` may
    yield any number of tuples (1 -> N fixtures such as patch grids);
    the kernel's frame has integer column labels, which
    ``mapInPandas`` matches to ``schema`` by position."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    if mod is not None:
        docs = docs.filter(F.col("doc_id") % mod == rem)
    rows = None
    if sized:
        rows = catalog.table_rows(spark, sf_dir, "documents") // (mod or 1)
    docs = catalog.fanout(docs.select("doc_id"), rows=rows)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [t for d in pdf["doc_id"] for t in row(int(d))]
            if out:
                yield pd.DataFrame(out)

    return docs.mapInPandas(run, schema=schema)


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

QUERIES = {
    "mm_decode_meta": _q_decode_meta,
}
ORACLES = {
    "mm_decode_meta": DECODE_META_DUCK,
}
