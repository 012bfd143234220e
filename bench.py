"""Benchmark harness: EVERY registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` and ``queries`` cover the round-1 25-query headline set —
the like-for-like basis against BASELINE.md / BENCH_r01 (28.68 s).
The line is kept COMPACT on purpose: the driver captures only the
tail of bench output and json-parses it, and round 2's
all-105-query line overflowed that window (BENCH_r02 recorded
``parsed: null``). Full per-query timings for the whole surface are
written to BENCH_DETAIL.json in the repo root instead, with
``all_total`` / ``n_queries`` echoed in the printed line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from dataset_batch_processor_spark.session import get_spark

# Round-1 headline set (BENCH_r01 / BASELINE.md comparison basis).
HEADLINE = (
    "tile_grid",
    "route_images",
    "caption_join",
    "dedup_lines",
    "split_chunks",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "q7_volume_shipping",
    "top_customers_per_nation",
    "events_hourly",
    "events_sessionize",
    "dedup_exact_docs",
    "minhash_lsh_pairs",
    "minhash_jaccard_verify",
    "simhash_signatures",
    "emb_cosine_topk",
    "emb_ivf_topk",
    "docs_quality_score",
    "docs_bpe_tokens",
    "docs_winnow_fingerprint",
    "asof_latest_order",
    "event_followups_within_hour",
    "docs_shard_packing",
    "q10_returned_items",
)

# Headline v2 (round 8, VERDICT r7 next#8): the r1-era set skews
# relational; these four add one representative per major family that
# landed since (funnel, image near-dup, the all-families dashboard,
# the measured-skew salted join). The r1 25 stays the baseline-
# continuity metric ("value"); headline_v2_total tracks the surface
# users actually run. V2 members get the same median-of-REPS protocol.
HEADLINE_V2_EXTRA = (
    "events_funnel",
    "img_phash_near_dup_pairs",
    "dedup_dashboard_all_families",
    "lineitem_hot_tenant_salted_join",
    # late round 8: one representative each for the tokenizer-training,
    # corpus-global line-dedup, and unicode-normalization families
    "docs_bpe_train_merges",
    "docs_crossdoc_line_dedup",
    "docs_unicode_normalize",
    # round 9: the unigram-LM trainer and the DoReMi mixture trainer
    # (the two new training-loop families)
    "docs_unigram_train",
    "docs_doremi_mixture",
    # round 10: one representative each for the SFT/chat family, the
    # RLHF preference family, and the trained lang-ID family
    "docs_chat_render",
    "docs_rejection_sampling",
    "docs_langid_train",
    # round 11: one representative each for the conversation-gate
    # family (validation), the frozen-tokenizer artifact path, and
    # the BT trajectory fit
    "docs_chat_validate",
    "docs_bpe_frozen_apply",
    "docs_policy_bt_strengths",
    # round 12: one representative each for the FFD packer, the
    # prefix-grouped serving order, and the preference length-bias
    # audit (the streaming quota twin rides the HEAVY tier instead —
    # its wall is availableNow harness cost, like turn_admission)
    "docs_ffd_pack_sequences",
    "docs_chat_serving_order",
    "docs_pref_length_bias",
    # round 13: the steady-state ANN serving probe (split out of the
    # persistence gate, VERDICT r12 next #2) — the number a deployed
    # index reader actually sees
    "emb_ivf_serving_topk",
)

# Top-cost tier (round 8, VERDICT r7 next#4): the most expensive
# non-headline queries run median-of-REPS with recorded spreads so
# regressions on precisely the most expensive surface are
# attributable. These compose session-shared matcache artifacts
# (pair graphs, CC labels) built by whichever query touches them
# FIRST in registration order — often a sibling that ran earlier —
# so the median is the warm-path cost; a large spread max marks the
# rep that happened to pay a cold build, wherever it landed.
HEAVY = (
    # round 10: the two most expensive new-family members (streaming
    # availableNow harness cost; the NB eval's double chain replay) —
    # multi-rep so their recorded medians are attributable
    "docs_stream_turn_admission",
    "docs_langid_eval",
    # round 11: the two most expensive new queries (MMR's deep
    # unrolled plan; the card's five composed chains) — multi-rep so
    # their recorded medians are attributable
    "emb_mmr_topk",
    "docs_sft_data_card",
    "img_phash_components",
    "emb_ann_recall_report",
    "dedup_dashboard_all_families",
    "img_dhash_components",
    "docs_incremental_lsh_pairs",
    # round 12: the streaming quota twin (availableNow harness cost,
    # the turn_admission class)
    "docs_stream_quota_sample",
    # round 15: the two most expensive round-15 members — the winnow
    # pair join (banded-family class) and the decile card (training
    # cache + rank pass) — multi-rep so their medians are attributable
    "docs_winnow_overlap_pairs",
    "docs_classifier_decile_lift",
)

# Watch tier: queries whose single-rep timing flagged in a
# BENCH_COMPARE report without a code change — multi-rep until the
# move is attributed or absorbed (BENCH_COMPARE_r8: 1.59x).
WATCH = (
    "mm_progressive_roundtrip",
    # round 9: single-rep cold-first outliers flagged in
    # BENCH_COMPARE_r9 (probed steady states: oph_pairs 2.2s,
    # stream_dedup 2.1s, audio_fingerprint 1.0s) — multi-rep so the
    # recorded median is the warm path
    "minhash_oph_pairs",
    "events_stream_dedup",
    "mm_audio_fingerprint_dups",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")

    qs = entrymod.queries()
    timings: dict[str, float] = {}
    # warm-up actions so one-time startup cost doesn't pollute q1:
    # a shuffle (exchange + codegen paths) and a trivial mapInPandas
    # (forks the Arrow Python worker pool — ~3-5s on local[32])
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.groupBy("l_returnflag").count().count()
    spark.range(128).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    # Host-regime calibration (round 14, VERDICT r13 next #6): a
    # FIXED pure-codegen aggregation — data-free, shuffle-free,
    # sf-independent — whose wall clock moves only with the host's
    # effective CPU budget (tenancy, clock, contention). Recorded in
    # BENCH_DETAIL as calibration_s; tools/bench_compare.py divides
    # round-over-round query ratios by the calibration ratio so a
    # host-regime shift (r13's 67 spread-moves on identical code)
    # reads as ~1.0x normalized instead of a wall of false moves.
    # Median of 3 so one scheduler hiccup can't mislabel the regime.
    cal_runs = []
    for _ in range(3):
        t0 = time.time()
        spark.range(500_000_000).selectExpr(
            "sum(id % 1000003) AS s"
        ).collect()
        cal_runs.append(time.time() - t0)
    calibration_s = round(sorted(cal_runs)[1], 3)
    # The shared pair-graph INDEX is built once per session by design
    # (matcache); which query paid for it used to depend on the
    # _prioritize ordering — a real inter-round noise source. Build it
    # in the warmup, report the build cost as its own line, and every
    # dup-family query then measures its own work over the warm index
    # in every round identically.
    from dataset_batch_processor_spark import matcache
    from dataset_batch_processor_spark.operators import (
        components,
        curationfunnel,
        dedup,
        similarity,
    )

    # Round 9 (VERDICT r8 next #4): pre-build EVERY session-shared
    # artifact in warmup, not just the pair graph — recorded per-query
    # numbers used to depend on which family member happened to build
    # the CC labels / gate table / trained centroids first
    # (docs_curation_funnel swung 1.7<->11 s across refreshes purely
    # from build order). Each build cost is its own recorded line in
    # BENCH_DETAIL.json; every consumer then times its own work over
    # warm artifacts, identically in every run.
    warmup_builds: dict[str, float] = {}

    def _warm(name: str, fn) -> None:
        t0 = time.time()
        fn()
        warmup_builds[name] = round(time.time() - t0, 3)

    # round 15: the md5-family minhash signature table is session-
    # shared (matcache kind "minhash_sigs") — the pair graph, banding
    # sweep, chosen-banding, fuzzy decontam, the gated signatures
    # query, and the incremental-index twin all consume it. Built
    # first so pair_graph's recorded cost is the banding+pairs work.
    _warm("minhash_sigs", lambda: dedup.minhash_sigs(spark, sf_dir).count())
    # round 16: the decontam gram tables are session-shared (matcache
    # kind "decon_grams_w{8,3}") — decontaminate, the ngram-Jaccard
    # index, and the decontam report's exact column all scan them;
    # built here so each consumer times its tail over warm grams
    from dataset_batch_processor_spark.operators import decontam as _dc
    _warm("decon_grams_w8",
          lambda: _dc.gram_table(spark, sf_dir, _dc.DECON_N).count())
    _warm("decon_grams_w3",
          lambda: _dc.gram_table(spark, sf_dir, _dc.JAC_N).count())
    _warm("pair_graph", lambda: dedup.pair_graph(spark, sf_dir).count())
    # round 13: the exact-Jaccard truth panel is session-shared
    # (matcache kind "jaccard_truth") and was the dominant first-touch
    # cost inside whichever sweep-family query ran first
    # (minhash_banding_sweep's recorded 4.4 s was ~3 s panel build)
    from dataset_batch_processor_spark import catalog as _cat
    _n_docs = _cat.load_table(spark, sf_dir, "documents").count()
    _warm("jaccard_truth",
          lambda: dedup.jaccard_truth(
              spark, sf_dir,
              panel_mod=dedup.truth_panel_mod(_n_docs)).count())
    _warm("dup_labels",
          lambda: components.doc_dup_labels(spark, sf_dir).count())
    _warm("curation_gates",
          lambda: curationfunnel.doc_gates(spark, sf_dir).count())
    # round 12 (VERDICT r11 wrong #3): the 4-5x single-rep excursions
    # on img_phash_components / dedup_dashboard_all_families were the
    # image pair graphs + CC labels building cold inside whichever rep
    # touched them first (reproduced: first rep 11.4/11.6 s, warm reps
    # 2-2.8 s) — build them here like every other shared artifact.
    from dataset_batch_processor_spark.operators import dedupdash
    _warm("dhash_graph",
          lambda: dedupdash.dhash_labels(spark, sf_dir).count())
    _warm("phash_graph",
          lambda: dedupdash.phash_labels(spark, sf_dir).count())
    # round 15: the SemDeDup survivor table is session-shared between
    # emb_semdedup_survivors and dedup_dashboard_all_families
    from dataset_batch_processor_spark.operators import semdedup
    _warm("semdedup_survivors",
          lambda: semdedup.semdedup_table(spark, sf_dir).count())
    # round 15: the chat turns table is session-shared across the
    # whole chat/pack/validate family (~15 registered queries)
    from dataset_batch_processor_spark.operators import chat
    _warm("chat_turns",
          lambda: chat.chat_turns(spark, sf_dir).count())
    _warm("ivf_flat_assign",
          lambda: similarity.ivf_flat_assign(spark, sf_dir).count())
    _warm("ivf_trained_centroids",
          lambda: similarity._trained_index(spark, sf_dir))
    # round 13 (VERDICT r12 next #2): the serving-path artifacts — the
    # materialized inverted lists and the persisted index dir — are
    # session-shared; build them here so emb_ivf_serving_topk times
    # the probe a deployed reader pays, and emb_ivf_persisted_topk
    # times save+load+probe rather than a corpus re-assignment.
    _warm("ivf_trained_assign",
          lambda: similarity.trained_assign_df(spark, sf_dir).count())
    _warm("ivf_persisted_index",
          lambda: similarity.persisted_index_dir(spark, sf_dir))
    # r9 VERDICT wrong#1: the perceptron weights are session-shared
    # between docs_classifier_train and _eval (_TRAIN_CACHE) — without
    # a warmup build, whichever ran first absorbed the ~5-6 s training
    # cost and the pair swapped timings run-to-run. (The unigram vocab
    # was audited for the same hazard and needs NO warmup: bpe.
    # unigram_train is deliberately uncached, so docs_unigram_train
    # and docs_tokenizer_fertility each pay their own full training
    # every run — order-insensitive by construction.)
    from dataset_batch_processor_spark.operators import perceptron
    _warm("perceptron_weights",
          lambda: perceptron.train_trajectory(spark, sf_dir))
    # r10 VERDICT wrong#1: the NB lang-ID model is session-shared
    # between docs_langid_train and _eval (matcache) — build the
    # 132-row model+prior table here so both queries time their own
    # probe work, not the first-builder training pass. r11 VERDICT
    # next#1: the corpus-side feature/teacher tables are the same
    # cost class — warm them first (the model build rides them).
    from dataset_batch_processor_spark.operators import langid
    _warm("langid_feats",
          lambda: langid.corpus_feats_df(spark, sf_dir).count())
    _warm("langid_teach",
          lambda: langid.corpus_teach_df(spark, sf_dir).count())
    _warm("langid_nb_model",
          lambda: langid.nb_model_df(spark, sf_dir).count())
    # round 11: the frozen-tokenizer artifact is session-shared
    # between docs_bpe_train_merges' trainer and docs_bpe_frozen_apply
    # — build it here so the apply times its probe, not the training.
    from dataset_batch_processor_spark.operators import bpe
    _warm("bpe_merges_artifact",
          lambda: bpe.bpe_merges_artifact(spark, sf_dir).count())
    # every stream twin's shard staging is session-shared
    # (fixtures.Twin.stage; twins with one layout share one) — build
    # them here so each twin's recorded timing is its drain loop, not
    # fixture parquet writes
    from dataset_batch_processor_spark.streaming.fixtures import Twin

    for _name, _fn in qs.items():
        if isinstance(_fn, Twin):
            _warm(f"stage:{_name}", lambda t=_fn: t.stage(spark, sf_dir))
    pair_graph_build_s = warmup_builds["pair_graph"]

    # Queries whose registered form scans a matcache-materialized
    # RESULT (build-once ANN top-k): a timing over a warm cache would
    # measure the cached parquet scan, not the operator. Busting the
    # derived cache before EVERY timed rep (reps=1 included) makes
    # each rep the honest build+probe — and each query busts ONLY the
    # exact kind it owns, so one family's eviction can't perturb a
    # sibling's timing mid-run. emb_ann_recall_report is deliberately
    # NOT here: its registered form composes the family top-k caches;
    # families whose queries ran earlier in registration order are
    # warm, any later one (ivfpq) is built inside its timing — the
    # same split every run, so the timing is comparable across rounds.
    DERIVED_CACHED = {
        "emb_ivf_topk": "anntopk_ivf",
        "emb_ann_lsh_topk": "anntopk_lsh",
        "emb_ann_multiprobe_topk": "anntopk_lsh_multiprobe",
        "emb_pq_topk": "anntopk_pq",
        "emb_ivfpq_topk": "anntopk_ivfpq",
    }

    # Same-HEAD headline runs historically swung ±35% (19.6–26.9 s on
    # identical code — BENCH_DETAIL r5 note), making round-over-round
    # comparison unfalsifiable. Fix: HEADLINE queries run REPS times
    # and report the per-query MEDIAN; the [min, median, max] spread
    # is recorded in BENCH_DETAIL.json. Non-headline queries run once
    # — tripling all 180 would triple the driver's bench wall for a
    # number nobody gates on.
    reps_headline = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    multi_rep = (
        set(HEADLINE) | set(HEADLINE_V2_EXTRA) | set(HEAVY) | set(WATCH)
    )
    # Tenancy hardening (VERDICT r12 wrong #1 / next #1): median-of-3
    # does not damp a ±25% tenancy band with occasional 3x excursions
    # — the r12 driver snapshot (19.14 s) disagreed with the committed
    # close (13.04 s) on IDENTICAL code, almost entirely via three
    # variance-dominated queries. Any query whose LAST RECORDED spread
    # exceeded 1.5x max/min is promoted to 5 reps with the min and max
    # dropped and the middle runs averaged (trimmed mean) — one 3x
    # excursion then costs nothing, and two would have to land in the
    # same 5-rep window to move the number. The rule is read from the
    # prior BENCH_DETAIL.json, so it self-heals: a query whose spread
    # tightens drops back to the base protocol next run. Per-query rep
    # counts are persisted in BENCH_DETAIL ("reps").
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    # an EXPLICIT reps=1 run (SPARK_GRAFT_BENCH_REPS=1, the smoke /
    # rewrite-check path the spread_carried machinery supports) stays
    # single-pass: promotion only applies when multi-rep is on at all
    reps_promoted = max(5, reps_headline) if reps_headline > 1 else 1
    promoted: set[str] = set()
    prior_doc: dict = {}
    try:
        with open(detail_path) as fh:
            prior_doc = json.load(fh)
    except (OSError, ValueError):
        pass
    for qname, sp in (prior_doc.get("spread") or {}).items():
        if sp and sp[0] > 0 and sp[-1] / sp[0] > 1.5:
            promoted.add(qname)
    spread: dict[str, list[float]] = {}
    reps_used: dict[str, int] = {}
    total = 0.0
    for name, fn in qs.items():
        if name in promoted:
            reps = reps_promoted
        elif name in multi_rep:
            reps = reps_headline
        else:
            reps = 1
        runs: list[float] = []
        n = 0
        for _ in range(reps):
            if name in DERIVED_CACHED:
                matcache.invalidate_exact(DERIVED_CACHED[name])
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()  # forces execution without driver collect cost
            runs.append(time.time() - t0)
            # queries persist() intermediates and are measured as
            # independent jobs; drop leftover cached blocks so later
            # queries/reps aren't squeezed by earlier storage memory
            spark.catalog.clearCache()
        runs.sort()
        if reps >= 5:
            # trimmed mean: drop min and max, average the middle runs
            mid = runs[1:-1]
            dt = sum(mid) / len(mid)
        else:
            dt = runs[len(runs) // 2]  # median (reps odd) / upper-median
        timings[name] = round(dt, 3)
        reps_used[name] = reps
        if reps > 1:
            spread[name] = [round(runs[0], 3), round(dt, 3), round(runs[-1], 3)]
        total += dt
        est = "trimmed mean" if reps >= 5 else "median"
        print(f"# {name}: {n} rows in {dt:.2f}s ({est} of {reps})",
              file=sys.stderr)

    # Mover auto-requeue (round 15, VERDICT r14 next #3): r14's
    # compare printed 28 >=1.5x "movers", ~all of which inverted on
    # the next run — host noise the CPU calibration can't normalize
    # (page-cache/shuffle regimes). Instead of hand-adjudicating,
    # any query whose fresh timing moved beyond the threshold vs the
    # prior BENCH_DETAIL (calibration-normalized) is immediately
    # re-measured at 5 reps IN THIS SESSION (artifacts warm, same
    # regime) with a min/max-trimmed mean; the re-measured value
    # replaces the timing, and BENCH_DETAIL records first/remeasured/
    # prior + whether the move survived ("confirmed"). A compare over
    # the written detail then lists only moves that survived a
    # same-session repeat. Capped at the largest 40 ratios so a
    # whole-host regime shift can't quintuple bench wall.
    requeue: dict[str, dict] = {}
    # sf guard: a reps=1 smoke at another sf overwrites the detail
    # file; comparing this run against it would mislabel every query
    # a "mover" and requeue 40 of them for nothing
    if reps_headline > 1 and prior_doc.get("sf") == sf:
        prior_q = prior_doc.get("queries") or {}
        _cal_prior = prior_doc.get("calibration_s")
        cal_ratio = (
            calibration_s / _cal_prior if _cal_prior else 1.0
        )
        mover_thresh, mover_floor = 1.5, 0.2
        movers: list[tuple[float, str, float]] = []
        for name, dt0 in timings.items():
            a = prior_q.get(name)
            if not a or max(a, dt0) < mover_floor:
                continue
            r = dt0 / a / cal_ratio
            if not (1 / mover_thresh <= r <= mover_thresh):
                movers.append((max(r, 1 / r), name, a))
        movers.sort(reverse=True)
        for _, name, a in movers[:40]:
            fn = qs[name]
            runs = []
            for _ in range(5):
                if name in DERIVED_CACHED:
                    matcache.invalidate_exact(DERIVED_CACHED[name])
                t0 = time.time()
                fn(spark, sf_dir).count()
                runs.append(time.time() - t0)
                spark.catalog.clearCache()
            runs.sort()
            dt = sum(runs[1:-1]) / len(runs[1:-1])
            r2 = dt / a / cal_ratio
            requeue[name] = {
                "prior": a,
                "first": timings[name],
                "remeasured": round(dt, 3),
                "confirmed": not (1 / mover_thresh <= r2 <= mover_thresh),
            }
            timings[name] = round(dt, 3)
            spread[name] = [
                round(runs[0], 3), round(dt, 3), round(runs[-1], 3)
            ]
            reps_used[name] = 5
            print(
                f"# requeue {name}: prior {a:.2f}s first "
                f"{requeue[name]['first']:.2f}s remeasured {dt:.2f}s "
                f"({'CONFIRMED' if requeue[name]['confirmed'] else 'absorbed'})",
                file=sys.stderr,
            )
        if requeue:
            total = sum(timings.values())

    headline_total = sum(timings[n] for n in HEADLINE if n in timings)
    headline_v2_total = headline_total + sum(
        timings[n] for n in HEADLINE_V2_EXTRA if n in timings
    )
    # Round-4 regression investigation (VERDICT r3 "what's wrong" #3):
    # the r2->r3 all-queries slowdown reproduces in a FRESH session
    # running only 8 early queries (each ~1.7-3x its mid-r3 BENCH_DETAIL
    # time), so it is NOT accumulated JVM/listener state in the
    # long-lived bench session — the round-4 host is simply slower
    # (fresh VM, ~2.6 GHz pinned, /proc uptime < 3 h at measurement;
    # the 97.6 s snapshot predates the reprovision). Per-query
    # isolation beyond clearCache was tested and changes nothing.
    note = (
        "headline queries are per-query median-of-"
        f"{reps_headline} (spread in BENCH_DETAIL.json) to damp the "
        "±35% same-HEAD host variance seen through round 5; ALL "
        "session-shared artifacts (pair graph, CC labels, curation "
        "gates, IVF flat assignment, trained centroids) are built in "
        "warmup with per-artifact costs in warmup_builds, so no "
        "query's timing depends on build order (round 9); each "
        "build-once ANN query invalidates exactly its own result "
        "cache before every timed rep (reps=1 included) so every "
        "timing is the honest probe over warm indexes and no query "
        "evicts a sibling's cache; emb_ann_recall_report times the "
        "composition over the warm family caches by design; "
        "headline-v2 extras and the heavy tier (top-cost "
        "non-headline) also run median-of-reps; any query whose "
        "prior recorded spread exceeded 1.5x max/min is promoted to "
        f"{reps_promoted} reps with a min/max-trimmed mean (round "
        "13 tenancy hardening — per-query rep counts in 'reps'); "
        "remaining queries run once; spread entries for queries a "
        "reps=1 rewrite did not re-measure are carried forward from "
        "the prior BENCH_DETAIL (marked in spread_carried); any "
        "query that moved >1.5x (calibration-normalized) vs the "
        "prior detail was auto-requeued at 5 reps in-session and "
        "the trimmed mean recorded instead — first/remeasured/"
        "confirmed in 'requeue' (round 15)"
    )
    # Preserve spread arrays across rewrites (VERDICT r8 wrong #3): a
    # reps=1 driver re-run used to overwrite the committed multi-rep
    # spreads with nothing. Carry forward any prior spread for a query
    # this run did not multi-rep, and record which ones are carried.
    spread_carried: list[str] = []
    # a query carried in run N-1 sits in run N-1's spread, so the
    # first condition re-carries it (and re-labels it) naturally;
    # anything this run DID multi-rep gets a fresh spread and no
    # carried label (prior_doc was read before this run overwrote
    # the file)
    for qname, sp in (prior_doc.get("spread") or {}).items():
        if qname not in spread and qname in timings:
            spread[qname] = sp
            spread_carried.append(qname)
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "all_queries_total_wall",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_queries": len(timings),
                "headline_total": round(headline_total, 3),
                "headline_v2_total": round(headline_v2_total, 3),
                "headline_v2_extra": list(HEADLINE_V2_EXTRA),
                "heavy_tier": list(HEAVY),
                "headline_reps": reps_headline,
                "reps": reps_used,
                "promoted_high_spread": sorted(promoted),
                "requeue": requeue,
                "calibration_s": calibration_s,
                "calibration_runs": [round(v, 3) for v in cal_runs],
                "pair_graph_build_s": pair_graph_build_s,
                "warmup_builds": warmup_builds,
                "spread": spread,
                "spread_carried": sorted(spread_carried),
                "note": note,
            },
            fh,
            indent=1,
        )
    # Compact line: headline subset only, so the whole line fits the
    # driver's tail-capture window (~2.8 KB) and parses.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(headline_total, 3),
                "unit": "sec",
                "queries": {n: timings[n] for n in HEADLINE if n in timings},
                "sf": sf,
                "cal": calibration_s,
                "all_total": round(total, 3),
                "headline_v2_total": round(headline_v2_total, 3),
                "n_queries": len(timings),
                "note": note,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
