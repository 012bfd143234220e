"""Documents -> overlapping chunks -> dedup'd chunk store -> embedded
chunks -> top-k retrieval: the RAG ingestion recipe, composed from the
round-14 gated pieces.

  1. chunk   — sliding token windows with overlap and stable content
               addresses (`ragchunk` W=32/S=24; the LangChain-splitter
               shape)
  2. dedup   — keep ONE copy per content address (min (doc_id,
               chunk_no) wins — the A4 order-recovery stance), with
               the redundancy rollup (`docs_chunk_dedup`) as the
               savings report
  3. embed   — `embed.embed_text` over the UNIQUE chunk texts (Arrow
               mapInPandas; chunk key re-derived from the stable
               address, so re-ingesting an unchanged corpus is a
               no-op upsert)
  4. serve   — brute-force cosine top-k of one probe chunk against
               the store (swap in the IVF/LSH index family at scale —
               see examples/embed_ann_pipeline.py; the recall trade
               is the PINNED docs_ann_lsh_recall value)

Usage: python examples/rag_store_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.operators import embed, ragchunk
from dataset_batch_processor_spark.session import get_spark


def run(spark, sf_dir: str) -> dict:
    """Run the pipeline; returns the metrics the smoke test pins."""
    catalog.load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )

    # 1. chunk — reuse the gated WITH-chain, materializing the window
    # TEXT alongside the address (the gated query carries the address
    # only; the store needs the payload)
    w, s = ragchunk.CHUNK_W, ragchunk.CHUNK_S
    chunks = spark.sql(f"""
WITH t AS (SELECT doc_id, split(text, ' ') AS w FROM documents
           WHERE length(text) > 0),
pos AS (SELECT doc_id, w, size(w) AS ntok,
               explode(sequence(0, greatest(CAST(ceil((size(w) - {w})
               / {s}) AS INT), 0))) AS k FROM t)
SELECT doc_id, CAST(k AS INT) AS chunk_no,
       array_join(slice(w, 1 + k * {s}, {w}), ' ') AS chunk_text,
       md5(array_join(slice(w, 1 + k * {s}, {w}), ' ')) AS chunk_md5
FROM pos WHERE 1 + k * {s} <= ntok
""")
    n_chunks = chunks.count()
    print(f"chunks: {n_chunks}")

    # 2. dedup by content address — one copy per md5, first position
    # wins (encoded argmin, no window)
    store = (
        chunks.groupBy("chunk_md5")
        .agg(
            F.min(
                F.struct("doc_id", "chunk_no", "chunk_text")
            ).alias("_first"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            "chunk_md5",
            F.col("_first.doc_id").alias("doc_id"),
            F.col("_first.chunk_no").alias("chunk_no"),
            F.col("_first.chunk_text").alias("chunk_text"),
            "n_copies",
        )
    )
    n_store = store.count()
    print(f"store: {n_store} unique chunks "
          f"({n_chunks - n_store} duplicates dropped)")
    # the per-doc savings report is the gated rollup
    ragchunk.QUERIES["docs_chunk_dedup"](spark, sf_dir).orderBy(
        F.desc("redundancy_ppm")
    ).show(5, truncate=False)

    # 3. embed unique chunks — a stable integer key derived from the
    # content address keeps re-ingestion idempotent
    keyed = store.withColumn(
        "chunk_key",
        F.expr("CAST(conv(substr(chunk_md5, 1, 15), 16, 10) AS BIGINT)"),
    )
    vecs = embed.embed_text(
        keyed, id_col="chunk_key", text_col="chunk_text"
    )
    n_vecs = vecs.count()
    print(f"embedded: {n_vecs} chunk vectors")

    # 4. serve: one probe chunk against the store, brute-force cosine
    probe = vecs.limit(1).select(
        F.col("chunk_key").alias("probe_key"),
        F.col("embedding").alias("probe_emb"),
    )
    dot = (
        "aggregate(zip_with(probe_emb, embedding, (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nrm = (
        "sqrt(aggregate(zip_with({c}, {c}, (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    hits = (
        vecs.crossJoin(F.broadcast(probe))
        .filter(F.col("chunk_key") != F.col("probe_key"))
        .select(
            "chunk_key",
            F.expr(
                f"round({dot} / ({nrm.format(c='probe_emb')} * "
                f"{nrm.format(c='embedding')}), 6)"
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"), "chunk_key")
        .limit(5)
    )
    top = hits.collect()
    hits.show()
    return {
        "n_chunks": n_chunks,
        "n_store": n_store,
        "n_vecs": n_vecs,
        "top_cos": [r.cos for r in top],
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("rag-store-pipeline")
    run(spark, sf_dir)


if __name__ == "__main__":
    main()
