"""Plan-shape assertions (SURVEY.md §5.2 item 5): pushdown, pruning,
broadcast, and shuffle budgets for the headline queries. These guard
the 100 TB story — a regression here can hide inside a passing
correctness run at sf0.01."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.operators import relational, tiling, textops
from dataset_batch_processor_spark.plans import explain


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    df = relational.q1_pricing_summary(spark, sf_dir)
    # shipdate predicate must reach the parquet scan
    assert explain.has_pushed_filter(df, "l_shipdate")
    # scan must not read columns q1 doesn't touch (e.g. l_comment-ish ones)
    cols = explain.read_schema_columns(df)
    assert cols and all("l_orderkey" not in c for c in cols)


def test_q5_broadcasts_all_dims(spark, sf_dir):
    df = relational.q5_regional_revenue(spark, sf_dir)
    # customer, supplier, nation, region all broadcast; only
    # lineitem⋈orders may shuffle
    assert explain.broadcast_join_count(df) >= 4


def test_tile_grid_is_shuffle_free(spark, sf_dir):
    """The flagship explode is a narrow pipeline: scan → project →
    explode → filter. Any Exchange here would be a scale bug."""
    df = tiling.tile_grid(
        catalog.images_meta(spark, sf_dir),
        tiling.TileSpec(tile_size=1024, overlap_ratio=0.5, padding=10),
    )
    assert explain.count_exchanges(df) == 0


def test_tile_grid_prunes_part_columns(spark, sf_dir):
    df = tiling.tile_grid(
        catalog.images_meta(spark, sf_dir),
        tiling.TileSpec(tile_size=1024, overlap_ratio=0.5, padding=10),
    )
    for cols in explain.read_schema_columns(df):
        # images_meta derives from p_partkey only — the wide part
        # columns (p_name, p_type, ...) must not be scanned
        assert set(cols) <= {"p_partkey"}, cols


def test_dedup_single_shuffle(spark, sf_dir):
    df = textops.dedup_lines(catalog.text_lines(spark, sf_dir), key_len=24)
    # one exchange for the groupBy; the orderBy adds a range exchange.
    assert explain.count_exchanges(df) <= 2


def test_caption_join_is_broadcast(spark, sf_dir):
    from dataset_batch_processor_spark.operators import captions as cap_ops

    df = cap_ops.join_captions(
        catalog.images_meta(spark, sf_dir), catalog.captions(spark, sf_dir)
    )
    assert explain.broadcast_join_count(df) == 1
    assert explain.count_exchanges(df) == 0


def test_q19_disjunction_pushed_to_scan(spark, sf_dir):
    from dataset_batch_processor_spark.operators import tpch

    df = tpch.QUERIES["q19_disjunctive"](spark, sf_dir)
    # the OR-of-ANDs quantity predicate must reach the lineitem scan
    assert explain.has_pushed_filter(df, "l_quantity")
    assert explain.broadcast_join_count(df) >= 1  # part side broadcast


def test_q8_snowflake_broadcasts_all_dims(spark, sf_dir):
    from dataset_batch_processor_spark.operators import tpch

    df = tpch.QUERIES["q8_market_share"](spark, sf_dir)
    # six joins; at fixture scale every dim side is broadcast (no SMJ)
    assert explain.broadcast_join_count(df) >= 6
    assert "SortMergeJoin" not in explain.formatted_plan(df)


def test_repetition_metrics_single_narrow_scan(spark, sf_dir):
    from dataset_batch_processor_spark.operators import textanalysis

    df = textanalysis.QUERIES["docs_repetition_metrics"](spark, sf_dir)
    # array-only projection: no shuffle, no Python eval, pruned scan
    assert explain.count_exchanges(df) == 0
    assert "EvalPython" not in explain.formatted_plan(df)
    assert explain.read_schema_columns(df) == [["doc_id", "text"]]


def test_keyword_search_topk_has_no_full_sort(spark, sf_dir):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject
    (per-partition heaps), never a global Sort over the corpus."""
    from dataset_batch_processor_spark.operators import search

    df = search.QUERIES["docs_keyword_search"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_topk_has_no_full_sort(spark, sf_dir):
    from dataset_batch_processor_spark.operators import curation

    df = curation.QUERIES["docs_weighted_sample"](spark, sf_dir)
    assert "TakeOrderedAndProject" in explain.formatted_plan(df)


def test_quantize_codebook_is_broadcast(spark, sf_dir):
    """The 64-row per-dimension codebook must broadcast into the
    coding join — a shuffle join here would reshuffle the corpus."""
    from dataset_batch_processor_spark.operators import quantize

    codes = quantize.quantize_codes(
        catalog.load_table(spark, sf_dir, "embeddings")
    )
    assert explain.broadcast_join_count(codes) >= 1


def test_codec_roundtrips_fan_out_before_kernel(spark, sf_dir):
    """The doc_id repartition ahead of the Python codec kernel is the
    whole perf fix (13.2s -> 1.6s at sf0.1): assert the exchange is
    in the plan so a refactor can't silently drop it."""
    from dataset_batch_processor_spark.multimodal import queries as mmq

    df = mmq.QUERIES["mm_jpeg_roundtrip"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "RoundRobinPartitioning" in plan


def test_rows_sized_mm_fanout_skips_a_width_one_exchange(spark, sf_dir):
    """catalog.fanout is the one fan rule: a rows-sized kernel whose
    input (500 docs / 3 at sf0.001) fills one task keeps the one-file
    scan's single partition instead of adding a repartition(1)
    exchange (Spark prints it as SinglePartition, REPARTITION_BY_NUM);
    the unsized codec fans above still repartition."""
    from dataset_batch_processor_spark.multimodal import queries as mmq

    df = mmq.QUERIES["mm_audio_features"](spark, sf_dir)
    assert "REPARTITION_BY_NUM" not in explain.formatted_plan(df)


# every query built through multimodal.qcommon.per_doc: (mod, sized)
_PER_DOC_FANS = {
    "mm_png_roundtrip": (None, False),
    "mm_png_interlaced_roundtrip": (None, False),
    "mm_jpeg_roundtrip": (None, False),
    "mm_progressive_roundtrip": (None, False),
    "mm_resize_roundtrip": (None, False),
    "mm_webp_roundtrip": (None, False),
    "mm_vp8_roundtrip": (None, False),
    "mm_heif_roundtrip": (8, False),
    "mm_png_depths_roundtrip": (3, True),
    "mm_bmp_depths_roundtrip": (7, False),
    "mm_format_convert_chain": (9, False),
    "mm_jpeg12_roundtrip": (11, True),
    "mm_watermark_lsb_roundtrip": (None, False),
    "mm_dng_lossless_roundtrip": (4, False),
    "mm_dng_tiled_roundtrip": (5, False),
    "mm_cr2_lossless_roundtrip": (4, False),
    "mm_nef_packed_roundtrip": (4, True),
    "mm_nef_compressed_roundtrip": (5, False),
    "mm_arw_roundtrip": (4, True),
    "mm_arw_compressed_roundtrip": (5, True),
    "mm_wav_roundtrip": (None, True),
    "mm_wav_depths_roundtrip": (9, True),
    "mm_audio_features": (3, True),
    "mm_audio_vad_segments": (3, True),
    "mm_audio_spectral": (3, True),
    "mm_audio_normalize": (3, True),
    "mm_audio_resample": (3, True),
    "mm_frame_sample": (5, True),
    "mm_video_scene_cuts": (5, True),
    "mm_avi_mjpeg_roundtrip": (13, False),
    "mm_exif_orientation": (3, False),
    "mm_exif_scrub": (None, False),
    "mm_scrub_routing": (None, True),
    "mm_exif_orientation_normalize": (None, False),
    "mm_tile_checksum": (None, False),
    "mm_vit_patchify": (5, False),
    "mm_augment_views": (5, False),
}


@pytest.mark.parametrize("name", sorted(_PER_DOC_FANS))
def test_per_doc_fan_width(spark, sf_dir, name):
    """Each per_doc query keeps the fan width the fan rule gives its
    site: defaultParallelism unsized, table_rows // mod //
    FANOUT_ROWS_PER_TASK (at least 1) sized, and no round-robin
    exchange where the one-file scan is already that wide."""
    from dataset_batch_processor_spark.multimodal import queries as mmq

    mod, sized = _PER_DOC_FANS[name]
    width = spark.sparkContext.defaultParallelism
    if sized:
        rows = catalog.table_rows(spark, sf_dir, "documents") // (mod or 1)
        width = max(1, min(width, rows // catalog.FANOUT_ROWS_PER_TASK))
    scan = catalog.load_table(spark, sf_dir, "documents").rdd.getNumPartitions()
    plan = explain.formatted_plan(mmq.QUERIES[name](spark, sf_dir))
    if width > scan:
        assert f"RoundRobinPartitioning({width})" in plan
    else:
        assert "RoundRobinPartitioning" not in plan


def test_first_last_order_is_one_agg_no_window(spark, sf_dir):
    """The encoded argmax needs exactly one grouping shuffle and no
    window exec (a window formulation would sort every group)."""
    from dataset_batch_processor_spark.operators import windows

    df = windows.QUERIES["customer_first_last_order"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "Window" not in plan
    # one hash exchange for the groupBy + one range for ORDER BY
    assert explain.count_exchanges(df) <= 2


def test_bm25_topk_has_no_full_sort(spark, sf_dir):
    from dataset_batch_processor_spark.operators import search

    df = search.QUERIES["docs_bm25_topk"](spark, sf_dir)
    assert "TakeOrderedAndProject" in explain.formatted_plan(df)


def test_vocab_coverage_never_windows_full_vocab(spark, sf_dir):
    """Totals via plain agg, top set via TakeOrderedAndProject, the
    1000-row rank/cumsum driver-side — so the final plan has NO window
    node at all. A row_number()/sum() OVER () over the raw vocab would
    serialize ~10^8 types through one task at web scale. (The
    TakeOrderedAndProject runs eagerly inside the query builder; the
    returned plan is the final share aggregation over the two bounded
    views.)"""
    from dataset_batch_processor_spark.operators import corpusstats

    df = corpusstats.QUERIES["docs_vocab_coverage"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "Window" not in plan
    # the eager top-k arm must itself be heap-based, never a full sort
    top_plan = explain.formatted_plan(
        spark.sql(
            "SELECT token, count(*) AS c FROM documents "
            "LATERAL VIEW explode(split(text, ' ')) t AS token "
            "WHERE length(token) > 0 GROUP BY token "
            "ORDER BY c DESC, token ASC LIMIT 1000"
        )
    )
    assert "TakeOrderedAndProject" in top_plan


def test_norm_histogram_single_agg_shuffle(spark, sf_dir):
    """Narrow scan + one hash agg on the tiny bucket key (plus its
    AQE final-agg exchange); no joins, no windows."""
    from dataset_batch_processor_spark.operators import similarity

    df = similarity.QUERIES["emb_norm_histogram"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "Window" not in plan
    assert explain.broadcast_join_count(df) == 0


def test_gated_full_probe_scores_with_exact_fold(spark, sf_dir):
    """emb_ivf_fullprobe_equiv is hash-gated against brute force, so
    it must score with the exact sequential fold (the ``cos_exact``
    Arrow UDF), never an einsum cosine (``cos6``) whose pairwise
    accumulation has no determinism proof."""
    from dataset_batch_processor_spark.operators import similarity

    df = similarity.QUERIES["emb_ivf_fullprobe_equiv"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "cos_exact" in plan
    assert "cos6" not in plan


def test_containment_reuses_candidate_join_shape(spark, sf_dir):
    """Candidates-only verification: the pair graph joins shingles
    twice (A side, B side) and sizes twice — same shape as Jaccard;
    no cross join may appear."""
    from dataset_batch_processor_spark.operators import dedup

    docs = catalog.load_table(spark, sf_dir, "documents")
    df = dedup.containment_verify_df(docs)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tile_checksum_fans_out_and_spreads_skew(spark, sf_dir):
    """Both Python stages keep their exchanges: the id fan-out before
    the PNG-generation kernel (RoundRobin) and materialize_tiles'
    per-image (id) hash exchange before the crop kernel."""
    from dataset_batch_processor_spark.multimodal import queries as mmq

    df = mmq.QUERIES["mm_tile_checksum"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "RoundRobinPartitioning" in plan
    assert "hashpartitioning(id" in plan


def test_pq_adc_join_is_never_cartesian(spark, sf_dir):
    """PQ's only cross joins are against the 16-row codebook
    (broadcast nested loop); the ADC scoring must be an equi-join on
    (j, cid) + hash aggregation, never a corpus-sized cartesian."""
    from dataset_batch_processor_spark.operators import pq

    df = pq.build_pq_topk(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert explain.broadcast_join_count(df) >= 1


def test_semdedup_pairing_is_cluster_equijoin(spark, sf_dir):
    """SemDeDup's pair generation must be the centroid_id equi-join
    (SortMergeJoin/ShuffledHashJoin on the cluster key), never a
    corpus-sized cartesian; the only cross join allowed is the
    broadcast centroid table."""
    from dataset_batch_processor_spark.operators import semdedup

    df = semdedup.QUERIES["emb_semdedup_survivors"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "centroid_id" in plan


def test_zorder_cells_single_bounds_pass(spark, sf_dir):
    """The z-cell query is one 1-row bounds aggregate broadcast into
    one grouping pass — pure arithmetic in between, no window over
    the full table and no Python."""
    from dataset_batch_processor_spark.sources import storage

    df = storage.QUERIES["events_zorder_cells"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert explain.broadcast_join_count(df) >= 1  # the bounds row


def test_bpe_apply_stays_in_codegen(spark, sf_dir):
    """The ranked-merge fold is a chain of scalar replace() calls —
    JVM expressions evaluated in one narrow pass: no Python
    evaluators, no joins, no shuffles. (The per-word aggregate() is a
    higher-order function, which is why this pins JVM-side-ness via
    the absence of Python evaluators rather than codegen spans.)"""
    from dataset_batch_processor_spark.operators import bpe

    df = bpe.QUERIES["docs_bpe_subword_tokens"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert explain.count_exchanges(df) == 0


def test_substring_spans_single_gram_subtree(spark, sf_dir):
    """The detection pipeline hashes the corpus-sized gram table ONCE:
    exactly one scan of documents feeds one window over h plus the
    per-doc islands windows — a second scan would mean the
    groupBy+join-back shape regressed."""
    from dataset_batch_processor_spark.operators import substring

    import re

    df = substring.QUERIES["docs_substring_dedup_spans"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    # count scan NODES via the formatted detail entries "(n) Scan
    # parquet" (the tree section repeats each node's name)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:500]


def test_ivfpq_registered_query_is_kernel_path(spark, sf_dir):
    """The registered IVF-PQ query must be the one-pass encode kernel
    (mapInPandas) + ADC equi-join — not the SQL CTE chain that
    re-evaluates the coarse assignment per reference."""
    from dataset_batch_processor_spark.operators import ivfpq

    df = ivfpq.build_ivfpq_topk(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan


def test_q2_correlated_min_decorrelates(spark, sf_dir):
    """q2's per-part minimum must never be a per-row rescan
    (BroadcastNestedLoop/Cartesian). Round 15: the registered query
    computes it as min() OVER (PARTITION BY ps_partkey) on ONE
    European ps evaluation, so the dimension chain (part, supplier,
    nation, region) broadcasts exactly once — 4 broadcast joins, not
    the former 6+ across two inlined subtrees."""
    from dataset_batch_processor_spark.operators import tpch

    df = tpch.QUERIES["q2_min_cost_supplier"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert explain.broadcast_join_count(df) >= 4
    # the window must ride the ps aggregation's partitioning — a
    # second lineitem-side aggregate chain would show up as more
    # HashAggregate pairs than the single ps build needs
    assert plan.count("Window") >= 1


def test_q16_not_in_is_broadcast_anti(spark, sf_dir):
    """q16's NOT IN anti-subquery on the 100-row supplier dimension
    must plan as a broadcast null-aware anti join, not a shuffle."""
    from dataset_batch_processor_spark.operators import tpch

    df = tpch.QUERIES["q16_supplier_cnt"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan


def test_q20_nested_in_no_per_row_rescan(spark, sf_dir):
    """q20's correlated half-of-sum threshold must decorrelate: the
    date-filtered quantity sum aggregates once and equi-joins back on
    (partkey, suppkey)."""
    from dataset_batch_processor_spark.operators import tpch

    df = tpch.QUERIES["q20_promotion_suppliers"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bigram_lm_no_global_window(spark, sf_dir):
    """The bigram-LM plan's only window is the per-doc lag (partitioned
    by doc_id); the LM joins must be hash joins, never nested-loop."""
    from dataset_batch_processor_spark.operators import lmscore

    df = lmscore.QUERIES["docs_bigram_lm_score"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    # the only nested-loop is the broadcast of the 1-row vocab count
    # (bounds-row pattern); a non-broadcast cartesian would be a bug
    assert "CartesianProduct" not in plan
    # every window spec partitions on doc_id (no global funnel)
    n_specs = plan.count("windowspecdefinition(")
    assert n_specs > 0
    assert plan.count("windowspecdefinition(doc_id") == n_specs


def test_mining_broadcasts_query_panel(spark, sf_dir):
    """Hard-negative mining must broadcast the bounded query panel;
    the corpus side streams through without a shuffle before scoring."""
    from dataset_batch_processor_spark.operators import mining

    df = mining.QUERIES["emb_hard_negatives"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_sequence_packing_no_single_task_window(spark, sf_dir):
    """Sequence packing must use the range-partitioned prefix sum —
    an unpartitioned `sum() OVER (ORDER BY ...)` would serialize the
    corpus through one task."""
    from dataset_batch_processor_spark.operators import curation

    import re

    def unpartitioned_windows(plan: str) -> list[str]:
        # windowspecdefinition(part_cols..., sort ASC ..., frame);
        # with NO partition columns the FIRST argument is already the
        # sort spec, i.e. "<col> ASC NULLS FIRST" before any comma.
        # The `_pid` window is the two-pass design's totals pass —
        # one row PER PARTITION, bounded by cluster size, so a global
        # order there is exactly the intended k-row funnel.
        return [
            m.group(1)
            for m in re.finditer(r"windowspecdefinition\(([^,)]*)", plan)
            if re.search(r"\s(ASC|DESC)\b", m.group(1))
            and not m.group(1).startswith("_pid")
        ]

    # self-validation: the detector must FIRE on the naive global
    # running-sum plan it exists to forbid
    spark.range(100).selectExpr(
        "id", "id % 7 AS v"
    ).createOrReplaceTempView("_naive_seq")
    naive = spark.sql(
        "SELECT id, sum(v) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND 1 PRECEDING) AS s FROM _naive_seq"
    )
    assert unpartitioned_windows(explain.formatted_plan(naive))

    df = curation.QUERIES["docs_sequence_packing"](spark, sf_dir)
    assert unpartitioned_windows(explain.formatted_plan(df)) == []


def test_phash_pairs_banded_never_cartesian(spark, sf_dir):
    """pHash candidates must come from the band equi-join; no
    CartesianProduct, no row-at-a-time Python (round 15: the DCT
    moved from JVM expressions into the Arrow batch kernel
    lattice_phash_hashes — MapInPandas is the sanctioned vectorized
    path, BatchEvalPython remains the audit-failing hazard)."""
    from dataset_batch_processor_spark.operators import phash

    df = phash.QUERIES["img_phash_near_dup_pairs"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan  # the Arrow kernel actually rides the plan


def test_funnel_shuffles_only_on_user_id(spark, sf_dir):
    """The funnel's three step aggregations all hash-partition on
    user_id; no window over the event stream, no cartesian."""
    from dataset_batch_processor_spark.operators import funnel

    df = funnel.QUERIES["events_funnel_conversion"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_sliding_wau_joins_day_table_not_events(spark, sf_dir):
    """The 7-day window join must run on the per-day activity table
    (post-distinct), so the range join's left side is |days| rows —
    pinned by requiring the distinct (two-phase HashAggregate) below
    the join in the plan."""
    from dataset_batch_processor_spark.operators import funnel

    df = funnel.QUERIES["events_sliding_wau"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    # the range (non-equi) join must broadcast the tiny day list,
    # never cartesian the activity table
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_hot_tenant_join_is_salted_with_pinned_salt_columns(spark, sf_dir):
    """The chooser must pick 'salted' from the measured report, and
    the executed join must run on (tenant, _salt) with the salt
    derived via xxhash64 — the hot tenant's rows spread over 16
    reducers instead of pinning one."""
    from dataset_batch_processor_spark.sources import storage

    df = storage.QUERIES["lineitem_hot_tenant_salted_join"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "_salt" in plan          # join keys include the salt
    assert "xxhash64" in plan       # deterministic salt derivation
    assert "pmod" in plan           # ... bucketed into n_salts
    assert "CartesianProduct" not in plan
    # the dim replication is broadcast, never a shuffled explosion
    assert "BroadcastExchange" in plan


def test_choose_join_strategy_picks_salted_on_hot_tenant(spark, sf_dir):
    """The report measured on the actual fixture crosses the salt
    threshold (one tenant holding ~50 uniform tenants' worth of rows)
    and the dim exceeds the scaled broadcast budget."""
    from pyspark.sql import functions as F

    from dataset_batch_processor_spark import catalog
    from dataset_batch_processor_spark.sources import storage

    li = catalog.load_table(spark, sf_dir, "lineitem")
    part = catalog.load_table(spark, sf_dir, "part")
    tenant = storage._TENANT
    probe = li.select(
        F.expr(tenant.format(k="l_partkey")).cast("bigint").alias("tenant")
    )
    dim = part.select(
        F.expr(tenant.format(k="p_partkey")).cast("bigint").alias("tenant")
    ).distinct()
    report = storage.join_skew_report(probe, "tenant", dim)
    assert report["max_skew_factor"] >= 32.0
    assert report["build_rows"] > 64
    assert storage.choose_join_strategy(
        report, broadcast_max_rows=64
    ) == "salted"
    # and with a production-sized broadcast budget the same report
    # correctly falls back to broadcast — the cheapest plan wins
    assert storage.choose_join_strategy(report) == "broadcast"


def test_curation_funnel_probes_materialized_gates(spark, sf_dir):
    """The attribution and threshold-sweep queries must scan the
    session-materialized gate table (one parquet scan, no re-run of
    the Gopher/lang/dedup chain, no join back to documents) — the
    matcache-sharing convention (round 8)."""
    from dataset_batch_processor_spark.operators import curationfunnel

    # build once so the probes see the artifact
    curationfunnel.doc_gates(spark, sf_dir).count()
    import re

    def n_scans(plan):
        # each physical scan appears once as "(N) Scan parquet" in
        # the formatted detail section
        return len(re.findall(r"\(\d+\) Scan parquet", plan))

    attr = curationfunnel.QUERIES["docs_funnel_attribution"](spark, sf_dir)
    plan = explain.formatted_plan(attr)
    assert n_scans(plan) == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    sweep = curationfunnel.QUERIES["docs_funnel_threshold_sweep"](
        spark, sf_dir
    )
    plan = explain.formatted_plan(sweep)
    assert n_scans(plan) == 1  # gates only, no documents
    assert "CartesianProduct" not in plan


def test_arw_compressed_roundtrip_is_arrow_batched(spark, sf_dir):
    """The ARW2 roundtrip kernel runs in mapInPandas (Arrow batches),
    not row-at-a-time Python, and needs no shuffle."""
    from dataset_batch_processor_spark.multimodal import queries as mm

    df = mm.QUERIES["mm_arw_compressed_roundtrip"](spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan or "REPARTITION" in plan


def test_length_bucket_packing_shape_and_plan(spark, sf_dir):
    """Bucketed batching: full batches everywhere except at most one
    tail batch per bucket, docs conserved, waste bounded — and the
    batch index must come from the scalable prefix-sum path, not a
    per-bucket row_number() window (one task per bucket at scale)."""
    import re

    from dataset_batch_processor_spark.operators import curation

    df = curation.QUERIES["docs_length_bucket_packing"](spark, sf_dir)
    rows = df.collect()
    total_docs = sum(r.n_docs for r in rows)
    assert total_docs == 500
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
        assert 1 <= r.n_docs <= curation.BATCH_DOCS
        assert r.sum_tokens <= r.capacity
        assert 0 <= r.pad_waste_ppm < 1_000_000
    for bucket, batches in by_bucket.items():
        batches.sort(key=lambda r: r.batch_id)
        # contiguous ids from 0; only the last may be partial
        assert [b.batch_id for b in batches] == list(range(len(batches)))
        for b in batches[:-1]:
            assert b.n_docs == curation.BATCH_DOCS

    # plan: no unpartitioned data window (same detector as above)
    def unpartitioned_windows(plan: str) -> list[str]:
        return [
            m.group(1)
            for m in re.finditer(r"windowspecdefinition\(([^,)]*)", plan)
            if re.search(r"\s(ASC|DESC)\b", m.group(1))
            and not m.group(1).startswith("_pid")
        ]

    assert unpartitioned_windows(explain.formatted_plan(df)) == []


def test_dsir_plan_broadcasts_and_takeordered(spark, sf_dir):
    """DSIR: the weight table and totals must broadcast (no
    sort-merge join anywhere), the top-N cut must be
    TakeOrderedAndProject (never a global sort materialization)."""
    from dataset_batch_processor_spark.operators import dsir

    plan = explain.formatted_plan(
        dsir.QUERIES["docs_dsir_selection"](spark, sf_dir)
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_boilerplate_plan_stays_jvm(spark, sf_dir):
    """Boilerplate extraction is regexp/array expressions end to end
    — no Python stage may appear."""
    from dataset_batch_processor_spark.operators import boilerplate

    plan = explain.formatted_plan(
        boilerplate.QUERIES["docs_boilerplate_extract"](spark, sf_dir)
    )
    assert "EvalPython" not in plan


def test_semantic_decontam_panel_broadcasts(spark, sf_dir):
    """The eval panel must reach the corpus as a broadcast (nested
    loop over the bounded panel), never a shuffled join."""
    from dataset_batch_processor_spark.operators import decontam

    plan = explain.formatted_plan(
        decontam.QUERIES["emb_semantic_decontam"](spark, sf_dir)
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_length_bucket_oversize_doc_gets_exact_bucket(spark):
    """A doc past the power-of-two ladder must never overflow its
    batch capacity (negative waste) — it buckets at its own size."""
    from dataset_batch_processor_spark import catalog  # noqa: F401
    from dataset_batch_processor_spark.operators import curation

    long_text = " ".join(f"w{i}" for i in range(5000))
    df = spark.createDataFrame(
        [(1, long_text), (2, "a b c")], "doc_id long, text string"
    )
    df.createOrReplaceTempView("documents")
    import tempfile

    # drive the operator body directly over a temp docs table
    from pyspark.sql import functions as F

    sized = df.select(
        "doc_id",
        F.expr("size(split(text, ' '))").cast("long").alias("n_tokens"),
        F.expr(
            curation._BUCKET_CASE.format(n="size(split(text, ' '))")
        ).cast("long").alias("bucket"),
    ).collect()
    by_id = {r.doc_id: r for r in sized}
    assert by_id[1].bucket == by_id[1].n_tokens == 5000
    assert by_id[2].bucket == 16


def test_crossdoc_line_dedup_no_cartesian_and_digest_shuffle(spark, sf_dir):
    """The corpus-global line dedup must shuffle line DIGESTS, never
    all-pairs: no CartesianProduct/BroadcastNestedLoop anywhere, and
    the droplist join is an equi-join on pkey."""
    from dataset_batch_processor_spark.operators import textclean

    df = textclean._q_crossdoc_line_dedup(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "pkey" in plan  # digest key actually drives the anti-join


def test_banding_sweep_single_signature_build(spark, sf_dir):
    """All four configs must probe ONE signature table — since round
    15 the session-shared minhash_sigs parquet artifact — and never
    re-run the shingle->minhash chain inside the sweep build. (The
    registered query additionally wraps this build in
    materialize_once, so the pin targets the builder.)"""
    from dataset_batch_processor_spark.operators import dedup

    dedup.minhash_sigs(spark, sf_dir)  # ensure the artifact exists
    df = dedup._build_banding_sweep(spark, sf_dir)
    plan = explain.formatted_plan(df)
    # the four bandings scan the materialized signature parquet ...
    assert "dbp_minhash_sigs_" in plan
    # ... and the shingle derivation (substr over text) is absent
    assert "substr(text" not in plan
    assert "CartesianProduct" not in plan


def test_unicode_normalize_is_arrow_batched(spark, sf_dir):
    """The normalizer must run as vectorized Arrow eval, not
    row-at-a-time Python."""
    from dataset_batch_processor_spark.operators import textclean

    df = textclean._q_unicode_normalize(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_wordpiece_is_arrow_batched(spark, sf_dir):
    from dataset_batch_processor_spark.operators import bpe

    df = bpe._q_wordpiece_tokens(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_index_dedup_probe_is_equi_join_on_band_bucket(spark, sf_dir):
    """The new-batch probe joins the persisted index on
    (band, bucket) — hash-partitionable equi-join, no nested loop."""
    from dataset_batch_processor_spark.operators import dedup

    df = dedup._q_index_dedup_newbatch(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "bucket" in plan


def test_doremi_loss_pass_broadcasts_vocab(spark, sf_dir):
    """The per-doc OOV flagging joins the 64-row vocabulary head as a
    broadcast (no shuffle of the corpus-sized token table against it);
    no single-partition data window anywhere in the loss pass."""
    from dataset_batch_processor_spark import catalog as cat
    from dataset_batch_processor_spark.operators import doremi

    df = doremi.domain_losses(cat.load_table(spark, sf_dir, "documents"))
    assert explain.broadcast_join_count(df) >= 1
    plan = explain.formatted_plan(df)
    assert "Window" not in plan  # top-K via sort/limit, ranks via agg


def test_curriculum_stage_window_is_source_keyed(spark, sf_dir):
    """The curriculum rank window partitions on source and the
    vocabulary head compiles to TakeOrderedAndProject, not a global
    row_number window."""
    from dataset_batch_processor_spark.operators import curation

    df = curation._q_curriculum_stages(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    for line in plan.splitlines():
        if "Window" in line and "row_number" in line:
            assert "source" in line  # keyed, never global
