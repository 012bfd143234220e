"""Text operators: A2 merge, A4 dedup, W1 split — semantics from
/root/reference/modules/other_tasks.py, tested against plain-Python
oracles over controlled inputs."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from dataset_batch_processor_spark.operators import textops


def make_lines(spark, triples):
    return spark.createDataFrame(
        [Row(line_no=n, input_file=f, value=v) for n, f, v in triples]
    )


LINES = [
    (0, "f_0", "alpha"),
    (1, "f_1", "beta"),
    (2, "f_0", "alpha"),  # duplicate of line 0
    (3, "f_1", "gamma"),
    (4, "f_0", "beta"),  # duplicate of line 1
    (5, "f_2", "delta"),
]


def test_dedup_first_occurrence(spark):
    got = {
        (r.line_key, r.first_line_no)
        for r in textops.dedup_lines(make_lines(spark, LINES)).collect()
    }
    assert got == {("alpha", 0), ("beta", 1), ("gamma", 3), ("delta", 5)}


def test_dedup_stats(spark):
    r = textops.dedup_stats(make_lines(spark, LINES)).collect()[0]
    assert (r.original_count, r.unique_count, r.removed_count) == (6, 4, 2)


def test_merge_order_is_file_then_line(spark):
    r = textops.merge_text(make_lines(spark, LINES)).collect()[0]
    # defined order: (input_file, line_no) — f_0 lines first
    assert r.merged == "alpha\n\nalpha\n\nbeta\n\nbeta\n\ngamma\n\ndelta"
    assert r.n_lines == 6


def test_split_chunks_assignment(spark):
    lines = [(n, f"f_{n % 2}", f"line{n}") for n in range(10)]
    rows = textops.split_chunks(make_lines(spark, lines), records_per_file=3).collect()
    assert len(rows) == 10
    by_rn = {r.rn: r for r in rows}
    # rn is 1-based over (input_file, line_no) order: f_0 evens then f_1 odds
    expected_order = [0, 2, 4, 6, 8, 1, 3, 5, 7, 9]
    for rank, line_no in enumerate(expected_order, start=1):
        assert by_rn[rank].line_no == line_no
        assert by_rn[rank].file_id == (rank - 1) // 3
    # no trailing empty chunk (SURVEY.md §2.9.4): 10 lines / 3 -> ids 0..3
    assert {r.file_id for r in rows} == {0, 1, 2, 3}


def test_global_row_number_is_dense_and_ordered(spark):
    lines = [(n, f"f_{n % 4}", f"v{n}") for n in range(100)]
    rows = textops.attach_global_row_number(make_lines(spark, lines)).collect()
    rns = sorted(r.rn for r in rows)
    assert rns == list(range(1, 101))
    ordered = sorted(rows, key=lambda r: (r.input_file, r.line_no))
    for rank, r in enumerate(ordered, start=1):
        assert r.rn == rank


def test_dedup_properties_hypothesis(spark):
    """Property: dedup output size == distinct count; every first_line_no
    is the true first occurrence (random corpora via hypothesis)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.sampled_from(["a", "b", "c", "dd", "ee"]), min_size=1, max_size=30
        )
    )
    def check(values):
        lines = make_lines(
            spark, [(i, "f", v) for i, v in enumerate(values)]
        )
        got = {r.line_key: r.first_line_no for r in
               textops.dedup_lines(lines).collect()}
        assert len(got) == len(set(values))
        for v in set(values):
            assert got[v] == values.index(v)

    check()


def test_minhash_order_invariance(spark):
    """Property: MinHash signatures depend on the shingle SET, not on
    doc-id order or row order."""
    from pyspark.sql import Row

    from dataset_batch_processor_spark.operators import dedup

    docs = [Row(doc_id=i, text=t) for i, t in enumerate(
        ["spark batch engine pipeline", "pipeline engine batch spark",
         "completely different content here"])]
    d1 = spark.createDataFrame(docs)
    d2 = spark.createDataFrame(list(reversed(docs))).repartition(3)
    s1 = {(r.doc_id, r.mh_0, r.mh_7) for r in
          dedup.minhash_signatures_df(d1).collect()}
    s2 = {(r.doc_id, r.mh_0, r.mh_7) for r in
          dedup.minhash_signatures_df(d2).collect()}
    assert s1 == s2


def test_exclusive_prefix_sum_matches_window_form(spark):
    lines = make_lines(spark, LINES).withColumn(
        "w", F.length("value").cast("bigint")
    )
    got = textops.exclusive_prefix_sum(
        lines.repartition(4), ["input_file", "line_no"], "w", out_col="before"
    )
    rows = {(r.input_file, r.line_no): r.before for r in got.collect()}
    ordered = sorted(LINES, key=lambda t: (t[1], t[0]))
    acc = 0
    for n, f, v in ordered:
        assert rows[(f, n)] == acc
        acc += len(v)


def test_exclusive_prefix_sum_no_single_partition_window(spark):
    """The data-sized window is partitioned by _pid; only the
    one-row-per-partition offsets table uses a global window."""
    lines = make_lines(spark, LINES).withColumn("w", F.lit(1).cast("bigint"))
    plan = textops.exclusive_prefix_sum(
        lines, ["input_file", "line_no"], "w"
    )._jdf.queryExecution().executedPlan().toString()
    # every Window over the data carries a partition spec
    import re

    for m in re.finditer(r"Window \[[^\]]*windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        if "_pid" in plan and "input_file" in spec:
            assert "_pid" in spec or "ORDER" not in spec


def test_distributed_merge_matches_single_file(spark, tmp_path):
    from dataset_batch_processor_spark.sources import sinks

    lines = make_lines(spark, LINES).repartition(3)
    single = tmp_path / "merged.txt"
    sinks.export_merged_text(lines, str(single))
    parts_dir = tmp_path / "parts"
    n_parts, n_lines = sinks.export_merged_text_distributed(lines, str(parts_dir))
    assert n_parts >= 1 and n_lines == len(LINES)
    merged = b"".join(
        p.read_bytes() for p in sorted(parts_dir.glob("part-*.txt"))
    )
    assert merged == single.read_bytes()
