"""CSV/ORC sources: roundtrip identity, quarantine, pushdown."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dataset_batch_processor_spark.sources import tabular


def test_csv_roundtrip_identity(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b,with,commas", -2.25), (3, None, 0.0)],
        "id BIGINT, name STRING, val DOUBLE",
    )
    path = str(tmp_path / "csv_rt")
    tabular.write_csv(df, path)
    clean, quar = tabular.read_csv(
        spark, path, "id BIGINT, name STRING, val DOUBLE"
    )
    assert quar.count() == 0
    got = sorted(clean.collect(), key=lambda r: r.id)
    want = sorted(df.collect(), key=lambda r: r.id)
    assert got == want


def test_csv_quarantine_captures_malformed(spark, tmp_path):
    d = tmp_path / "bad_csv"
    d.mkdir()
    (d / "part.csv").write_text(
        "id,name,val\n1,a,1.5\nnot-an-int,b,xyz\n2,c,2.5\n"
    )
    clean, quar = tabular.read_csv(
        spark, str(d), "id BIGINT, name STRING, val DOUBLE"
    )
    assert clean.count() == 2
    bad = quar.collect()
    assert len(bad) == 1 and "not-an-int" in bad[0].raw_line


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i) * 1.5) for i in range(100)],
        "id BIGINT, name STRING, val DOUBLE",
    )
    path = str(tmp_path / "orc_rt")
    tabular.write_orc(df, path)
    back = tabular.read_orc(spark, path)
    assert sorted(back.collect()) == sorted(df.collect())
    # predicate + column pruning must reach the ORC scan
    plan = (
        back.filter(F.col("id") > 90).select("name")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,90)]" in plan


def test_write_csv_refuses_overwrite(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "id BIGINT")
    path = str(tmp_path / "once")
    tabular.write_csv(df, path)
    try:
        tabular.write_csv(df, path)
        raised = False
    except Exception:
        raised = True
    assert raised and os.path.isdir(path)


def test_write_csv_rejects_embedded_newlines(spark, tmp_path):
    df = spark.createDataFrame([(1, "a\nb")], "id INT, s STRING")
    try:
        tabular.write_csv(df, str(tmp_path / "bad"))
        raised = None
    except Exception as e:  # Py4J wraps the executor-side raise_error
        raised = str(e)
    assert raised is not None and "embedded newline" in raised


def test_csv_multiline_roundtrip(spark, tmp_path):
    rows = [(1, "plain"), (2, "has\nnewline"), (3, "and\r\nboth")]
    df = spark.createDataFrame(rows, "id INT, s STRING")
    path = str(tmp_path / "ml")
    tabular.write_csv(df, path, allow_embedded_newlines=True)
    back = tabular.read_csv_multiline(spark, path, "id INT, s STRING")
    assert sorted((r.id, r.s) for r in back.collect()) == sorted(rows)
