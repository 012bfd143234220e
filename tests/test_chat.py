"""SFT/chat family: the DuckDB oracle (which the driver hash-compares
against the Spark plan) is pinned here against the INDEPENDENT plain-
Python renderer in chat.py — string building and span slicing, no SQL
— so both engines' agreement can't be a shared misreading of the
template. Plus plan-shape pins: every window in the family is keyed
(doc_id / digest), never a global sort."""

from __future__ import annotations

import hashlib

import duckdb
import pytest

from dataset_batch_processor_spark.operators import chat

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs():
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
        " ORDER BY doc_id"
    ).fetchall()
    con.close()
    return rows


def _duck(sql: str):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{SF}/documents.parquet')"
    )
    out = con.execute(sql).fetchall()
    con.close()
    return out


def test_render_oracle_matches_python_renderer(docs):
    got = {
        r[0]: r[1:] for r in _duck(chat.CHAT_RENDER_DUCK)
    }  # doc_id -> (n_turns, n_assistant, render_len, render_md5)
    assert len(got) == len(docs)
    for doc_id, text in docs:
        conv = chat.conversation_py(doc_id, text)
        rendered = chat.render_py(doc_id, text)
        exp = (
            len(conv),
            sum(1 for role, _ in conv if role == "assistant"),
            len(rendered),
            hashlib.md5(rendered.encode()).hexdigest(),
        )
        assert got[doc_id] == exp, doc_id


def test_loss_mask_spans_slice_assistant_content(docs):
    """The semantic check: the oracle's span md5 equals the md5 of the
    spans the Python renderer computes, AND those spans really slice
    assistant CONTENT (not headers) out of the rendered string."""
    got = {r[0]: r[1:] for r in _duck(chat.CHAT_LOSS_MASK_DUCK)}
    n_checked = 0
    for doc_id, text in docs:
        spans = chat.loss_spans_py(doc_id, text)
        if not spans:
            assert doc_id not in got
            continue
        rendered = chat.render_py(doc_id, text)
        conv = chat.conversation_py(doc_id, text)
        contents = [c for role, c in conv if role == "assistant"]
        for (s, e), c in zip(spans, contents):
            assert rendered[s:e] == c
        exp_md5 = hashlib.md5(
            ";".join(f"{s}:{e}" for s, e in spans).encode()
        ).hexdigest()
        assert got[doc_id] == (
            len(spans),
            sum(e - s for s, e in spans),
            exp_md5,
        ), doc_id
        n_checked += 1
    assert n_checked > 100  # the fixture genuinely exercises the mask


def test_turn_dedup_oracle_matches_python(docs):
    by_digest: dict[str, list[tuple[int, int]]] = {}
    for doc_id, text in docs:
        for turn_id, (_, content) in enumerate(
            chat.conversation_py(doc_id, text)
        ):
            d = hashlib.md5(content.encode()).hexdigest()
            by_digest.setdefault(d, []).append((doc_id, turn_id))
    exp = {
        d: (
            len(occ),
            len({o[0] for o in occ}),
            min(occ)[0],
            min(occ)[1],
        )
        for d, occ in by_digest.items()
        if len(occ) > 1
    }
    got = {r[0]: r[1:] for r in _duck(chat.CHAT_TURN_DEDUP_DUCK)}
    assert got == exp
    assert len(exp) > 10  # cross-doc turn collisions really occur


def test_chat_windows_are_keyed(spark, sf_dir):
    """No unpartitioned data window anywhere in the family: render and
    mask partition by doc_id, dedup by digest — the 100 TB posture."""
    from dataset_batch_processor_spark import catalog
    from dataset_batch_processor_spark.plans import explain

    catalog.load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    for sql in (
        chat.CHAT_RENDER_SPARK,
        chat.CHAT_LOSS_MASK_SPARK,
        chat.CHAT_TURN_DEDUP_SPARK,
    ):
        plan = explain.formatted_plan(spark.sql(sql))
        assert "SinglePartition" not in plan, plan


def test_spark_render_matches_python_sample(spark, sf_dir, docs):
    """Direct Spark-vs-Python spot check (the oracle equivalence is the
    driver's job; this pins the SPARK side independently too)."""
    from dataset_batch_processor_spark import catalog

    catalog.load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    got = {
        r["doc_id"]: r["render_md5"]
        for r in spark.sql(chat.CHAT_RENDER_SPARK).collect()
    }
    for doc_id, text in docs[:50]:
        exp = hashlib.md5(chat.render_py(doc_id, text).encode()).hexdigest()
        assert got[doc_id] == exp, doc_id


def test_turn_near_dup_pairs_are_really_similar(spark, sf_dir):
    """Candidates from the banded join must be dominated by truly
    similar turn pairs: spot-check that every sampled pair shares at
    least one 8-char shingle (the LSH contract — a band collision
    without any shared shingle would mean broken signature math)."""
    from dataset_batch_processor_spark.operators import chat as chat_ops

    pairs = chat_ops._q_turn_near_dup(spark, sf_dir).limit(200).collect()
    assert pairs
    units = {
        r["doc_id"]: r["text"]
        for r in spark.sql(
            f"WITH {chat_ops._TOKS_SPARK},\n{chat_ops._TURNS_SPARK}\n"
            f"{chat_ops._TURN_DOCS_SPARK}"
        ).collect()
    }

    def shingles(t):
        return {t[i : i + 8] for i in range(0, max(len(t) - 7, 1), 4)}

    for r in pairs:
        a, b = units[r["turn_a"]], units[r["turn_b"]]
        assert shingles(a) & shingles(b), (a, b)


def test_signatures_front_door():
    from dataset_batch_processor_spark.operators import dedup

    # kperm default; production_hash defaults OFF (md5 = oracle path)
    assert dedup.signatures_df.__defaults__ == ("kperm", False)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.signatures_df(None, method="nope")


def test_signatures_front_door_dispatch(spark, sf_dir):
    from dataset_batch_processor_spark import catalog
    from dataset_batch_processor_spark.operators import dedup

    docs = catalog.load_table(spark, sf_dir, "documents").limit(20)
    kp = dedup.signatures_df(docs).columns
    oph = dedup.signatures_df(docs, method="oph").columns
    assert kp == dedup.minhash_signatures_df(docs).columns
    assert oph == dedup.oph_signatures_df(docs).columns


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing conservation laws: every non-final sequence is exactly
    full; tokens_used sums to the corpus token total; every doc starts
    in exactly one sequence and ends in exactly one; mask_tokens never
    exceeds tokens_used and is positive overall."""
    rows = {
        r["seq_id"]: r
        for r in chat._q_chat_pack_sequences(spark, sf_dir).collect()
    }
    last = max(rows)
    assert set(rows) == set(range(last + 1))  # contiguous sequences
    for k, r in rows.items():
        if k != last:
            assert r["tokens_used"] == chat.SEQ_BUDGET, k
        assert 0 <= r["mask_tokens"] <= r["tokens_used"], k
        assert r["n_docs"] >= 1

    from dataset_batch_processor_spark import catalog

    catalog.load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    total_len = spark.sql(
        f"SELECT CAST(sum(doc_len) AS BIGINT) t FROM ({chat.CHAT_DOC_LENS_SPARK})"
    ).collect()[0]["t"]
    assert sum(r["tokens_used"] for r in rows.values()) == total_len
    n_docs = spark.sql("SELECT count(*) c FROM documents").collect()[0]["c"]
    assert sum(r["n_docs_started"] for r in rows.values()) == n_docs
    assert sum(r["n_docs_ended"] for r in rows.values()) == n_docs
    assert sum(r["mask_tokens"] for r in rows.values()) > 0


def test_pack_doc_token_length_matches_renderer(spark, sf_dir, docs):
    """The token accounting the packer uses must equal the independent
    Python renderer's: content tokens + 3 specials per turn + the
    system cost."""
    from dataset_batch_processor_spark import catalog

    catalog.load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    got = {
        r["doc_id"]: r["doc_len"]
        for r in spark.sql(chat.CHAT_DOC_LENS_SPARK).collect()
    }
    for doc_id, text in docs[:100]:
        conv = chat.conversation_py(doc_id, text)
        exp = chat.SYS_TOKENS + sum(
            len(c.split(" ")) + chat.TURN_SPECIALS for _, c in conv
        )
        assert got.get(doc_id, chat.SYS_TOKENS) == exp or (
            not conv and doc_id not in got
        ), doc_id


def test_mm_token_plan_consistency(spark, sf_dir):
    """Cross-family pins: _PATCH_P really is qpatch.PATCH_P; vision
    tokens appear exactly on the image-carrying ids with the patch
    count the fixture dims imply; mask tokens are text-side only
    (<= text_tokens) and match the render's assistant accounting."""
    from dataset_batch_processor_spark.multimodal import qpatch

    assert chat._PATCH_P == qpatch.PATCH_P
    rows = {
        r["doc_id"]: r
        for r in chat.QUERIES["docs_mm_chat_token_plan"](
            spark, sf_dir
        ).collect()
    }
    for d, r in rows.items():
        if d % chat.IMG_MOD == 0:
            w, h = 32 * (d % 2 + 1), 16 * (d % 4 + 1)
            n_p = (w // chat._PATCH_P) * (h // chat._PATCH_P)
            assert r["has_image"] == 1 and r["n_patches"] == n_p, d
            assert r["vision_tokens"] == n_p + chat.IMG_SPECIALS
        else:
            assert r["has_image"] == 0 and r["vision_tokens"] == 0, d
        assert r["total_tokens"] == r["text_tokens"] + r["vision_tokens"]
        assert 0 <= r["mask_tokens"] <= r["text_tokens"]
    assert sum(r["mask_tokens"] for r in rows.values()) > 0


def test_chunk_windows_match_python(docs):
    """Independent Python replay of the overlapping-window chunker:
    every window of W tokens at stride S, last windows short."""
    got = {(r[0], r[1]): r[2:] for r in _duck(chat.CHUNK_WINDOWS_DUCK)}
    exp = {}
    W, S = chat.CHUNK_W, chat.CHUNK_S
    for doc_id, text in docs:
        toks = [t for t in text.split(" ") if t]
        k = 0
        while k * S < len(toks):
            window = toks[k * S : k * S + W]
            exp[(doc_id, k)] = (
                len(window),
                hashlib.md5(" ".join(window).encode()).hexdigest(),
            )
            k += 1
    assert got == exp
    # overlap really occurs: some docs produce 2+ chunks
    from collections import Counter

    per_doc = Counter(d for d, _ in exp)
    assert max(per_doc.values()) >= 3


def test_truncation_policy_matches_python(docs):
    """Independent replay: keep system + turn 0 + last TRUNC_KEEP
    turns, render through the template; short conversations pass
    through untruncated."""
    got = {r[0]: r[1:] for r in _duck(chat.CHAT_TRUNCATE_DUCK)}
    n_trunc = 0
    for doc_id, text in docs:
        conv = chat.conversation_py(doc_id, text)
        if not conv:
            assert doc_id not in got
            continue
        mt = len(conv) - 1
        kept = [
            (i, r, c)
            for i, (r, c) in enumerate(conv)
            if i == 0 or i > mt - chat.TRUNC_KEEP
        ]
        rendered = chat.SYS_RENDERED + "".join(
            f"{chat.IM_START}{r}\n{c}{chat.IM_END}\n" for _, r, c in kept
        )
        exp = (
            len(kept),
            len(conv) - len(kept),
            len(rendered),
            hashlib.md5(rendered.encode()).hexdigest(),
        )
        assert got[doc_id] == exp, doc_id
        n_trunc += exp[1] > 0
    assert n_trunc > 100  # truncation genuinely fires on the fixture


def test_tool_trace_render_matches_python(docs):
    """Independent replay of the tool-trace splice + loss split:
    tool-call args from the seeded hash, pair spliced after turn 0,
    assistant text (incl. the call) trained, tool result masked."""
    got = {r[0]: r[1:] for r in _duck(chat.TOOL_TRACE_DUCK)}
    for doc_id, text in docs:
        conv = chat.conversation_py(doc_id, text)
        if not conv:
            assert doc_id not in got
            continue
        aug = [(i * 10, r, c) for i, (r, c) in enumerate(conv)]
        has_tool = doc_id % chat.TOOL_MOD == 0
        if has_tool:
            th = int(
                hashlib.md5(f"{doc_id}:tool".encode()).hexdigest()[:7], 16
            )
            aug.append((5, "assistant", f"call search limit {th % 10}"))
            aug.append((6, "tool", f"result rows {th % 7}"))
        aug.sort()
        rendered = chat.SYS_RENDERED + "".join(
            f"{chat.IM_START}{r}\n{c}{chat.IM_END}\n" for _, r, c in aug
        )
        train = sum(
            len(c.split(" ")) for _, r, c in aug if r == "assistant"
        )
        masked = sum(
            len(c.split(" ")) for _, r, c in aug if r != "assistant"
        )
        exp = (
            int(has_tool),
            sum(1 for _, r, _ in aug if r == "tool"),
            train,
            masked,
            hashlib.md5(rendered.encode()).hexdigest(),
        )
        assert got[doc_id] == exp, doc_id


def test_prefix_share_matches_python(docs):
    """docs_chat_prefix_share vs an independent Python replay: group
    conversations by the depth-d rendered prefix, count groups and the
    chars a shared KV cache would not re-prefill."""
    from collections import Counter, defaultdict

    exp = {}
    for d in chat.PREFIX_DEPTHS:
        groups: Counter = Counter()
        plen: dict = {}
        for doc_id, text in docs:
            turns = chat.conversation_py(doc_id, text)
            if len(turns) < d:
                continue
            prefix = chat.SYS_RENDERED + "".join(
                f"{chat.IM_START}{role}\n{content}{chat.IM_END}\n"
                for role, content in turns[:d]
            )
            groups[prefix] += 1
        n_convs = sum(groups.values())
        n_groups = len(groups)
        n_shared = sum(c for c in groups.values() if c > 1)
        saved = sum((c - 1) * len(p) for p, c in groups.items())
        exp[d] = (n_convs, n_groups, n_shared, saved)

    got = {
        r[0]: tuple(r[1:])
        for r in _duck(chat.CHAT_PREFIX_SHARE_DUCK)
    }
    assert got == exp
    # the fixture carries genuine organic sharing at every depth
    assert all(v[2] > 0 for v in exp.values())


def test_prefix_share_spark_matches_oracle(spark, sf_dir):
    got = sorted(
        tuple(r)
        for r in chat.QUERIES["docs_chat_prefix_share"](
            spark, sf_dir
        ).collect()
    )
    exp = sorted(tuple(r) for r in _duck(chat.CHAT_PREFIX_SHARE_DUCK))
    assert got == exp


def test_serving_order_realizes_prefix_reuse(docs):
    """docs_chat_serving_order (VERDICT r11 next #3) vs an independent
    Python replay: every conversation lands in its DEEPEST shared
    group, group members are adjacent in serve_pos, the per-request
    reuse_chars sum equals the replay's realized total, and that total
    ties back to the report: >= the depth-3 saved_chars (depth-3
    groups survive intact at max depth)."""
    from collections import defaultdict

    prefixes = {}  # doc_id -> {depth: prefix string}
    for doc_id, text in docs:
        turns = chat.conversation_py(doc_id, text)
        prefixes[doc_id] = {
            d: chat.SYS_RENDERED
            + "".join(
                f"{chat.IM_START}{role}\n{content}{chat.IM_END}\n"
                for role, content in turns[:d]
            )
            for d in chat.PREFIX_DEPTHS
            if len(turns) >= d
        }
    counts = defaultdict(int)
    for pd in prefixes.values():
        for d, p in pd.items():
            counts[(d, p)] += 1
    exp_grp = {}  # doc_id -> (depth, group key, prefix_len)
    for doc_id, pd in prefixes.items():
        shared = [d for d, p in pd.items() if counts[(d, p)] > 1]
        if shared:
            d = max(shared)
            exp_grp[doc_id] = (d, pd[d], len(pd[d]))
        else:
            exp_grp[doc_id] = (0, "sys", chat.SYS_LEN)
    grp_sizes = defaultdict(int)
    for d, key, _l in exp_grp.values():
        grp_sizes[(d, key)] += 1
    exp_total = sum(
        (n - 1) * next(
            length for g, key, length in exp_grp.values()
            if (g, key) == (d, k)
        )
        for (d, k), n in grp_sizes.items()
    )

    rows = sorted(_duck(chat.CHAT_SERVING_ORDER_DUCK))
    assert [r[0] for r in rows] == list(range(1, len(docs) + 1))
    render_len = {
        doc_id: len(chat.render_py(doc_id, text)) for doc_id, text in docs
    }
    # depth assignment matches the replay; adjacency: walking the
    # serve order, each group's members form one contiguous block,
    # LENGTH-sorted inside it (minimal batch padding)
    seen_done = set()
    prev_key = None
    prev_len = None
    reuse_total = 0
    for _pos, doc_id, depth, rlen, reuse in rows:
        exp_d, exp_key, exp_len = exp_grp[doc_id]
        assert depth == exp_d, doc_id
        assert rlen == render_len[doc_id], doc_id
        key = (exp_d, exp_key)
        if key != prev_key:
            assert key not in seen_done  # contiguous blocks only
            if prev_key is not None:
                seen_done.add(prev_key)
            assert reuse == 0  # group leader re-prefills
            prev_key = key
        else:
            assert reuse == exp_len, doc_id
            assert rlen >= prev_len  # length-sorted within the group
        prev_len = rlen
        reuse_total += reuse
    assert reuse_total == exp_total
    # tie to the gated report: realized reuse dominates the report's
    # max-depth saving (those groups are adjacent at full prefix here)
    saved3 = {
        r[0]: r[4] for r in _duck(chat.CHAT_PREFIX_SHARE_DUCK)
    }[max(chat.PREFIX_DEPTHS)]
    assert reuse_total >= saved3 > 0


def test_serving_order_spark_matches_oracle(spark, sf_dir):
    got = sorted(
        tuple(r)
        for r in chat.QUERIES["docs_chat_serving_order"](
            spark, sf_dir
        ).collect()
    )
    exp = sorted(tuple(r) for r in _duck(chat.CHAT_SERVING_ORDER_DUCK))
    assert got == exp


def test_mm_pack_conserves_plan_totals(spark, sf_dir):
    """docs_mm_pack_sequences vs the gated MM token plan: packed
    sequences conserve total/vision tokens exactly, and every image
    starts in exactly one sequence."""
    from pyspark.sql import functions as F

    from dataset_batch_processor_spark import catalog

    catalog.load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    p = spark.sql(chat.MM_CHAT_PLAN_SPARK).agg(
        F.sum("total_tokens").alias("tot"),
        F.sum("vision_tokens").alias("vis"),
        F.sum("has_image").alias("n_imgs"),
    ).collect()[0]
    packed = chat.QUERIES["docs_mm_pack_sequences"](spark, sf_dir)
    q = packed.agg(
        F.sum("tokens_used").alias("tot"),
        F.sum("vision_tokens").alias("vis"),
        F.sum("n_imgs_started").alias("n_imgs"),
    ).collect()[0]
    assert (q["tot"], q["vis"], q["n_imgs"]) == (
        p["tot"], p["vis"], p["n_imgs"],
    )
    # budget respected: every sequence holds <= SEQ_BUDGET tokens
    assert packed.filter(
        F.col("tokens_used") > chat.SEQ_BUDGET
    ).count() == 0
    # vision never exceeds the sequence's own tokens
    assert packed.filter(
        F.col("vision_tokens") > F.col("tokens_used")
    ).count() == 0


def test_instruction_diversity_matches_python(docs):
    """docs_instruction_diversity vs an independent Python replay:
    leading-token tags per user turn, Simpson concentration in ppm."""
    import duckdb
    from collections import Counter, defaultdict

    con = duckdb.connect()
    srcs = dict(
        con.execute(
            f"SELECT doc_id, source FROM read_parquet('{SF}/documents.parquet')"
        ).fetchall()
    )
    con.close()

    tags = defaultdict(Counter)
    for doc_id, text in docs:
        for role, content in chat.conversation_py(doc_id, text):
            if role == "user":
                tags[srcs[doc_id]][content.split(" ")[0]] += 1

    got = {r[0]: tuple(r[1:]) for r in _duck(chat.INSTR_DIVERSITY_DUCK)}
    assert set(got) == set(tags)
    for src, c in tags.items():
        n = sum(c.values())
        top_tag, top_cnt = sorted(
            c.items(), key=lambda kv: (-kv[1], kv[0])
        )[0]
        ss = sum(v * v for v in c.values())
        assert got[src] == (
            n, len(c), top_tag,
            top_cnt * 1_000_000 // n,
            ss * 1_000_000 // (n * n),
        ), src


def test_template_migration_diff_replay():
    """Both templates replayed in plain Python over the gated turn
    fixture: v2 length = v1 + per-turn overhead delta + system delta,
    and every conversation changes (a template migration rewrites
    every render)."""
    import duckdb

    from dataset_batch_processor_spark.operators import chat

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    rows = con.execute(chat.TMPL_DIFF_DUCK).fetchall()
    render = {
        r[0]: r[3]  # render_len column
        for r in con.execute(chat.CHAT_RENDER_DUCK).fetchall()
    }
    turns = con.execute(
        "WITH "
        + chat.toks_duck()
        + ",\n"
        + chat.turns_duck()
        + " SELECT doc_id, turn_id, role, content FROM turns"
    ).fetchall()
    con.close()
    by_doc: dict[int, list] = {}
    for doc_id, turn_id, role, content in turns:
        by_doc.setdefault(doc_id, []).append((turn_id, role, content))
    assert len(rows) == len(by_doc)
    for doc_id, len_v1, len_v2, delta, changed in rows:
        assert changed is True
        assert delta == len_v2 - len_v1
        # v1 must agree with the gated render query's length
        assert len_v1 == render[doc_id]
        parts = sorted(by_doc[doc_id])
        v1 = chat.SYS_RENDERED + "".join(
            f"{chat.IM_START}{role}\n{content}{chat.IM_END}\n"
            for _t, role, content in parts
        )
        v2 = (
            f"<|start_header_id|>system<|end_header_id|>\n\n"
            f"{chat.SYSTEM_PROMPT}<|eot_id|>"
            + "".join(
                f"<|start_header_id|>{role}<|end_header_id|>\n\n"
                f"{content}<|eot_id|>"
                for _t, role, content in parts
            )
        )
        assert (len_v1, len_v2) == (len(v1), len(v2))


@pytest.mark.parametrize(
    "tail, raises",
    [
        ("SELECT doc_id, 'tl' AS tag FROM turns", False),
        ("SELECT doc_id AS tl FROM turns -- not FROM tl", False),
        ("SELECT t.doc_id FROM turns t JOIN tl USING (doc_id)", True),
        ("SELECT tl.tok FROM turns AS tl", True),
    ],
)
def test_mat_turns_seam_guard_rejects_only_tl_relations(
    spark, sf_dir, tail, raises
):
    """The materialized chain has no ``tl`` CTE: a tail that reads it
    as a relation is rejected, while ``tl`` in a literal, a comment or
    a column alias is valid SQL over the chain and runs."""
    sql = chat._CHAIN_SPARK + "\n" + tail
    if raises:
        with pytest.raises(ValueError, match="`tl`"):
            chat.run_with_mat_turns(spark, sf_dir, sql)
    else:
        assert chat.run_with_mat_turns(spark, sf_dir, sql).limit(3).collect()
