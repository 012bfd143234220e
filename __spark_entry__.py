"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship tile-grid explode on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL per query (the correctness
gate compares row count + schema + order-insensitive value hash at
sf0.01).

Column-name parity rule: every computed column is aliased identically
in the Spark plan and the oracle SQL. Float rule: sums accumulate in
DECIMAL and cast to DOUBLE on both sides so hashes match exactly.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.multimodal import alignment as mm_alignment
from dataset_batch_processor_spark.multimodal import queries as mm_queries
from dataset_batch_processor_spark.sources import jsonl as jsonl_ops
from dataset_batch_processor_spark.sources import storage as storage_ops
from dataset_batch_processor_spark.sources import tabular as tabular_ops
from dataset_batch_processor_spark.streaming import batchcheck as stream_check
from dataset_batch_processor_spark.streaming import incremental as stream_inc
from dataset_batch_processor_spark.streaming import driftmon as stream_drift
from dataset_batch_processor_spark.streaming import turndedup as stream_turndedup
from dataset_batch_processor_spark.streaming import qualitygate as stream_qg
from dataset_batch_processor_spark.streaming import convgate as stream_cvg
from dataset_batch_processor_spark.streaming import quotagate as stream_qt
from dataset_batch_processor_spark.streaming import rlvrgate as stream_rvg
from dataset_batch_processor_spark.streaming import canarygate as stream_cng
from dataset_batch_processor_spark.streaming import hllgate as stream_hlg
from dataset_batch_processor_spark.streaming import prefgate as stream_pfg
from dataset_batch_processor_spark.operators import (
    analytics,
    chat,
    chatvalidate,
    datacard,
    ffdpack,
    icp,
    recipe,
    curriculum,
    langid,
    matryoshka,
    mmr,
    preference,
    rlvr,
    canary,
    embed,
    agreement,
    ragchunk,
    winnow,
    pii,
    batching,
    hll,
    boilerplate,
    bpe,
    captions as cap_ops,
    components,
    corpusstats,
    dataops,
    doremi,
    decontam,
    dedupdash,
    dsir,
    ivfpq,
    coreset,
    linkage,
    lmobjectives,
    perceptron,
    curation,
    dedup as dedup_ops,
    merge as merge_ops,
    mlfilter,
    pq,
    quantize,
    recall,
    substring,
    relational,
    setops,
    tpch,
    windows,
    embdup,
    lmscore,
    imagedup,
    pca,
    mining,
    feathash,
    cms,
    curationfunnel,
    histsketch,
    routing,
    search,
    funnel,
    phash,
    events as events_ops,
    semdedup,
    webquality,
    similarity,
    temporal,
    textanalysis,
    textclean,
    textops,
    tiling,
)

SF0001 = "/root/testdata/sf0.001"

# Canonical parameter grid (FIXTURES.md): reference defaults
# tile=1024, overlap=0.5, padding=10 (/root/reference/start_app.py:29-31).
SPEC_DEFAULT = tiling.TileSpec(
    tile_size=1024, overlap_ratio=0.5, padding=10, caption="a photo"
)
SPEC_AUTO = tiling.TileSpec(
    tile_size=1024, overlap_ratio=0.5, padding=0, pad_option="Auto Adjust",
    save_format="JPG",
)
SPEC_NUMTILES = tiling.TileSpec(
    tile_size=0, overlap_ratio=0.0, padding=0, num_tiles=9
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tile-grid explode (G1) over sf0.001 images_meta."""
    return tiling.tile_grid(catalog.images_meta(spark, SF0001), SPEC_DEFAULT)


# ---------------------------------------------------------------- queries

def _q_tile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tiling.tile_grid(catalog.images_meta(spark, sf_dir), SPEC_DEFAULT)


def _q_tile_grid_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tiling.tile_grid(catalog.images_meta(spark, sf_dir), SPEC_AUTO)


def _q_tile_grid_numtiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tiling.tile_grid(catalog.images_meta(spark, sf_dir), SPEC_NUMTILES)


def _q_route_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    return routing.route_images(catalog.images_meta(spark, sf_dir), 1024, 0.5)


def _q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return routing.route_counts(
        routing.route_images(catalog.images_meta(spark, sf_dir), 1024, 0.5)
    )


def _q_auto_crop(spark: SparkSession, sf_dir: str) -> DataFrame:
    return routing.auto_crop(
        routing.route_images(catalog.images_meta(spark, sf_dir), 1024, 0.5)
    )


def _q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.dedup_lines(catalog.text_lines(spark, sf_dir), key_len=24)


def _q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.dedup_stats(catalog.text_lines(spark, sf_dir), key_len=24)


def _q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.dedup_lines_normalized(catalog.text_lines(spark, sf_dir))


def _q_merge_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.merge_text(catalog.text_lines(spark, sf_dir))


def _q_split_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.split_chunks(
        catalog.text_lines(spark, sf_dir), records_per_file=50
    ).select("line_no", "input_file", "rn", "file_id")


def _q_caption_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cap_ops.join_captions(
        catalog.images_meta(spark, sf_dir), catalog.captions(spark, sf_dir)
    )


def _q_mru_captions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cap_ops.mru_captions(catalog.caption_dict(spark, sf_dir))


def _q_caption_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cap_ops.upsert_caption(
        catalog.caption_dict(spark, sf_dir), "Brand#11", 10_000_000
    )


# Every module that registers queries, in registry order: each
# contributes its QUERIES to queries() and its ORACLES to oracle_sql().
_MODULES = (
    dedup_ops, agreement, ragchunk, winnow, pii, components, decontam,
    corpusstats, similarity, funnel, webquality, curationfunnel, phash,
    dedupdash, events_ops, textanalysis, textclean, dsir, boilerplate,
    mlfilter, merge_ops, setops, tpch, windows, embdup, lmscore, imagedup,
    pca, mining, feathash, cms, histsketch, search, quantize, temporal,
    curation, mm_queries, storage_ops, tabular_ops, jsonl_ops, stream_check,
    stream_drift, analytics, dataops, doremi, pq, ivfpq, recall, substring,
    stream_inc, stream_qg, stream_cvg, stream_qt, stream_rvg, stream_cng,
    stream_hlg, stream_pfg, linkage, semdedup, bpe, lmobjectives, coreset,
    perceptron, chat, chatvalidate, langid, preference, rlvr, canary, embed,
    batching, hll, matryoshka, mmr, datacard, ffdpack, icp, recipe,
    curriculum, stream_turndedup, mm_alignment,
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # --- reference parity (SURVEY.md §2) ---
        "tile_grid": _q_tile_grid,
        "tile_grid_auto_adjust": _q_tile_grid_auto,
        "tile_grid_num_tiles": _q_tile_grid_numtiles,
        "route_images": _q_route_images,
        "route_counts": _q_route_counts,
        "auto_crop": _q_auto_crop,
        "dedup_lines": _q_dedup_lines,
        "dedup_stats": _q_dedup_stats,
        "dedup_lines_normalized": _q_dedup_normalized,
        "merge_text": _q_merge_text,
        "split_chunks": _q_split_chunks,
        "caption_join": _q_caption_join,
        "mru_captions": _q_mru_captions,
        "caption_upsert": _q_caption_upsert,
        # --- standard relational surface ---
        "q1_pricing_summary": relational.q1_pricing_summary,
        "q3_shipping_priority": relational.q3_shipping_priority,
        "q5_regional_revenue": relational.q5_regional_revenue,
        "top_customers_per_nation": relational.top_customers_per_nation,
        "events_hourly": relational.events_hourly,
        "events_json_extract": relational.events_json_extract,
        "orders_running_total": relational.orders_running_total,
    }
    for mod in _MODULES:
        q.update(mod.QUERIES)
    return q


def oracle_sql() -> dict[str, str]:
    o = {
        "tile_grid": tiling.tile_grid_sql(SPEC_DEFAULT, catalog.IMAGES_META_SQL),
        "tile_grid_auto_adjust": tiling.tile_grid_sql(
            SPEC_AUTO, catalog.IMAGES_META_SQL
        ),
        "tile_grid_num_tiles": tiling.tile_grid_sql(
            SPEC_NUMTILES, catalog.IMAGES_META_SQL
        ),
        "route_images": routing.route_images_sql(catalog.IMAGES_META_SQL, 1024, 0.5),
        "route_counts": (
            "WITH "
            + catalog.IMAGES_META_SQL
            + """
SELECT CASE WHEN (width < 1024 OR height < 1024)
              OR ((width - 1024) % 512) <> 0
              OR ((height - 1024) % 512) <> 0
            THEN 'incompatible' ELSE 'ok' END AS route,
       count(*) AS n_images
FROM images_meta GROUP BY 1
"""
        ),
        "auto_crop": routing.auto_crop_sql(catalog.IMAGES_META_SQL, 1024, 0.5),
        "dedup_lines": textops.DEDUP_LINES_SQL.format(
            text_lines_cte=catalog.TEXT_LINES_SQL, key_len=24
        ),
        "dedup_stats": textops.DEDUP_STATS_SQL.format(
            text_lines_cte=catalog.TEXT_LINES_SQL, key_len=24
        ),
        "dedup_lines_normalized": textops.DEDUP_NORMALIZED_SQL.format(
            text_lines_cte=catalog.TEXT_LINES_SQL
        ),
        "merge_text": textops.MERGE_TEXT_SQL.format(
            text_lines_cte=catalog.TEXT_LINES_SQL
        ),
        "split_chunks": textops.SPLIT_CHUNKS_SQL.format(
            text_lines_cte=catalog.TEXT_LINES_SQL, records_per_file=50
        ),
        "caption_join": cap_ops.JOIN_CAPTIONS_SQL.format(
            images_cte=catalog.IMAGES_META_SQL, captions_cte=catalog.CAPTIONS_SQL
        ),
        "mru_captions": cap_ops.MRU_CAPTIONS_SQL.format(
            caption_dict_cte=catalog.CAPTION_DICT_SQL
        ),
        "caption_upsert": cap_ops.upsert_caption_sql(
            catalog.CAPTION_DICT_SQL, "Brand#11", 10_000_000
        ),
        "q1_pricing_summary": relational.Q1_SQL,
        "q3_shipping_priority": relational.Q3_SQL,
        "q5_regional_revenue": relational.Q5_SQL,
        "top_customers_per_nation": relational.TOP_CUSTOMERS_SQL,
        "events_hourly": relational.EVENTS_HOURLY_SQL,
        "events_json_extract": relational.EVENTS_JSON_SQL,
        "orders_running_total": relational.ORDERS_RUNNING_SQL,
    }
    for mod in _MODULES:
        o.update(mod.ORACLES)
    return o
