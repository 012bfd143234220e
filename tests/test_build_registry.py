"""Building a query is cheap: no Spark job once the session knows its
tables, and few Py4J round trips per Column expression.

* ``catalog.load_table`` infers each parquet schema once per session
  and file version (``matcache.read_parquet``), so a warm build of the
  plain llm_curation ops starts no job, and a table rewritten in place
  is read with its new schema and counted again.
* ``session.get_spark`` turns PySpark's call-site capture off, which
  about triples the round trips of every ``F.*`` call when on.
"""

from __future__ import annotations

import gc

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.clientserver import ClientServerConnection

import __spark_entry__ as entrymod
from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.streaming import incremental

PLAIN_LLM_CURATION_OPS = (
    "dedup_exact_docs", "minhash_lsh_pairs", "minhash_jaccard_verify",
    "simhash_signatures", "docs_winnow_overlap_pairs", "docs_bpe_tokens",
    "docs_quality_score",
)


def _build_jobs(spark, group, build) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", PLAIN_LLM_CURATION_OPS)
def test_warm_build_starts_no_job(spark, sf_dir, name):
    """The first build may infer schemas and build session artifacts;
    the second is pure plan construction."""
    fn = entrymod.queries()[name]
    fn(spark, sf_dir)
    assert _build_jobs(spark, f"warm-build-{name}", lambda: fn(spark, sf_dir)) == []


def _region(path, extra: bool = False, rows: int = 3) -> None:
    cols = {"r_regionkey": pa.array(range(rows), pa.int64()),
            "r_name": pa.array([f"r{i}" for i in range(rows)])}
    if extra:
        cols["r_extra"] = pa.array([1.5] * rows)
    pq.write_table(pa.table(cols), path)


def test_load_table_sees_a_table_rewritten_in_place(spark, tmp_path):
    sf = str(tmp_path)
    _region(tmp_path / "region.parquet")
    assert catalog.load_table(spark, sf, "region").columns == ["r_regionkey", "r_name"]
    assert _build_jobs(spark, "registry-reload",
                       lambda: catalog.load_table(spark, sf, "region")) == []
    _region(tmp_path / "region.parquet", extra=True)
    df = catalog.load_table(spark, sf, "region")
    assert df.columns == ["r_regionkey", "r_name", "r_extra"]
    assert [r.r_extra for r in df.collect()] == [1.5] * 3


def test_table_rows_sees_a_table_rewritten_in_place(spark, tmp_path):
    sf = str(tmp_path)
    _region(tmp_path / "region.parquet", rows=3)
    assert catalog.table_rows(spark, sf, "region") == 3
    _region(tmp_path / "region.parquet", rows=7)
    assert catalog.table_rows(spark, sf, "region") == 7


def test_lsh_step_build_round_trips(spark, monkeypatch):
    """Building one stream micro-batch step (two minhash/band chains
    and their joins, no job) stays under 600 Py4J round trips. With
    the call-site capture on it took 1,132; off, 432. Memory-release
    commands are not counted: Python finalizers send them whenever a
    JVM object's last reference dies, not when the build asks."""
    frame = spark.createDataFrame(
        [(i, f"doc {i} holds a few words") for i in range(8)],
        "doc_id long, text string",
    )
    incremental.lsh_step(frame)
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command)
        return send(self, command)

    gc.collect()
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    incremental.lsh_step(frame)
    monkeypatch.undo()
    calls = [c for c in sent if not c.startswith("m\nd\n")]
    assert 0 < len(calls) < 600, len(calls)
