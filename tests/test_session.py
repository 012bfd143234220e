"""The session factory: its codegen class cache holds a repeated pass,
and its Python workers find the package from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import __spark_entry__ as entry
from dataset_batch_processor_spark import matcache
from dataset_batch_processor_spark.session import CODEGEN_CACHE_MAX_ENTRIES

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PERFBENCH = os.path.join(_REPO, "perfbench")


def _llm_curation():
    """The llm_curation benchmark workload's ops and the result caches
    they own (perfbench/workloads.py)."""
    sys.path.insert(0, _PERFBENCH)
    try:
        import workloads
    finally:
        sys.path.remove(_PERFBENCH)
    return workloads.WORKLOADS["llm_curation"], workloads.OWN_RESULT_CACHE


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM: one per codegen cache miss."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_size_is_the_constant(spark):
    got = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(got) == CODEGEN_CACHE_MAX_ENTRIES


def test_repeated_pass_compiles_nothing(spark, sf_dir):
    # A pass of the llm_curation queries holds more generated classes
    # than Spark's default cache (100 entries): at that size each pass
    # evicted the previous pass's classes and recompiled them all.
    ops, own = _llm_curation()
    queries = entry.queries()

    def run_pass() -> dict[str, int]:
        # both passes start from the same state: no relation cached by
        # an earlier test, no result cache an op owns
        spark.catalog.clearCache()
        compiled = {}
        for name in ops:
            if name in own:
                matcache.invalidate_exact(own[name])
            c0 = _compiles(spark)
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            compiled[name] = _compiles(spark) - c0
        return {name: n for name, n in compiled.items() if n}

    run_pass()
    assert run_pass() == {}


def test_python_workers_import_the_package_from_any_directory(tmp_path):
    """A driver that puts the checkout on its own ``sys.path`` and runs
    from another directory with no PYTHONPATH: its Python workers get
    neither, yet a kernel that imports the package must run."""
    driver = tmp_path / "driver.py"
    driver.write_text(textwrap.dedent(f"""
        import sys

        sys.path.insert(0, {_REPO!r})
        from dataset_batch_processor_spark.session import get_spark

        def kernel(batches):
            import dataset_batch_processor_spark  # noqa: F401
            yield from batches

        spark = get_spark("workers-path", master="local[1]",
                          shuffle_partitions=1)
        n = spark.range(3).mapInPandas(kernel, schema="id long").count()
        spark.stop()
        sys.exit(0 if n == 3 else 1)
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    run = subprocess.run(
        [sys.executable, str(driver)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
