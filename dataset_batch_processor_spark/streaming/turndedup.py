"""Streaming turn-dedup admission — the SFT-ingestion twin of
``docs_turn_dedup`` (operators/chat.py).

Production shape: conversation shards arrive continuously; each
micro-batch derives its turns (the SAME parameterized chain the batch
gate pins — chat.toks_spark/turns_spark over the batch view), and a
turn is ADMITTED only if its content digest has never been admitted
before — first by the accumulated digest index, then first-within-
batch. Admitted digests are committed to the index.

Order-free gate (the driftmon.py requirement): WHICH copy of a
duplicated turn gets admitted depends on arrival order, so the gated
output carries only arrival-order-invariant facts — the admitted
digest SET (one row per digest) with its token count. The DuckDB
oracle recomputes ``SELECT DISTINCT`` over the batch turn chain;
equality proves exactly-once admission end to end (zero double-admits
in any batch partitioning of the input). The order-DEPENDENT fields
(admitted doc_id/turn_id) stay in the commit log for lineage but out
of the gate; tests pin that two different arrival orders admit the
identical digest set.

Bounded state: the index holds one 32-char digest row per DISTINCT
turn — it grows with unique content, never with corpus volume; the
admission join is an equi-join on the digest, the same key the batch
dedup shuffles. At deployment the index is bucketed by digest for
exchange-free probes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import chat
from . import fixtures


def _batch_turns_sql(view: str) -> str:
    return (
        f"WITH {chat.toks_spark(view)},\n"
        f"{chat.turns_spark(view)}\n"
        "SELECT doc_id, turn_id, md5(content) AS digest,\n"
        "       length(content) - length(replace(content, ' ', '')) + 1"
        " AS n_tokens\n"
        "FROM turns"
    )


def admit_step(
    batch: DataFrame, digest_index: DataFrame | None = None
) -> dict[str, DataFrame]:
    """One micro-batch: the turns it admits and their digests.

    ``digest_index`` holds the digests admitted by earlier batches."""
    turns = fixtures.batch_sql(batch, _batch_turns_sql)
    # first occurrence WITHIN the batch (digest-keyed window — bounded
    # by the batch)
    w_first = F.row_number().over(
        Window.partitionBy("digest").orderBy("doc_id", "turn_id")
    )
    firsts = turns.withColumn("_occ", w_first).filter(
        F.col("_occ") == 1
    ).drop("_occ")
    # not already admitted by an earlier batch
    if digest_index is not None:
        firsts = firsts.join(
            digest_index.select("digest"), "digest", "left_anti"
        )
    # persisted: both sinks are computed from it (fixtures.drain)
    firsts = firsts.persist()
    return {"admitted": firsts, "digest_index": firsts.select("digest")}


def read_admitted(spark: SparkSession, _sf_dir: str, work: str) -> DataFrame:
    """The ORDER-FREE gated view: one row per admitted digest."""
    return admitted_log(spark, work).select(
        "digest", F.col("n_tokens").cast("int").alias("n_tokens")
    )


def run_turn_admission_over_dir(
    spark: SparkSession, staged_dir: str, work_dir: str
) -> DataFrame:
    """Drain staged (doc_id, text) parquet through the admission loop
    and return the ORDER-FREE gated view."""
    schema = spark.read.parquet(staged_dir).schema
    fixtures.drain(
        spark, staged_dir, schema, admit_step, work_dir,
        reads=("digest_index",),
    )
    return read_admitted(spark, "", work_dir)


def admitted_log(spark: SparkSession, work_dir: str) -> DataFrame:
    """Full commit log incl. the order-dependent admitted copy ids —
    lineage, NOT gated."""
    return spark.read.parquet(os.path.join(work_dir, "admitted"))


TURN_ADMISSION_DUCK = f"""WITH {chat.toks_duck()},
{chat.turns_duck()}
SELECT DISTINCT md5(content) AS digest,
       CAST(length(content) - length(replace(content, ' ', '')) + 1
            AS INT) AS n_tokens
FROM turns
"""

QUERIES = {
    "docs_stream_turn_admission": fixtures.Twin(
        "documents", ("doc_id", "text"), "doc_id",
        admit_step, read_admitted, reads=("digest_index",),
    )
}
ORACLES = {"docs_stream_turn_admission": TURN_ADMISSION_DUCK}
