"""The session factory: its codegen class cache holds a repeated pass,
and its Python workers find the package from any working directory and
import pyspark from a directory rather than from Spark's archives."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

import __spark_entry__ as entry
from dataset_batch_processor_spark import matcache
from dataset_batch_processor_spark.pydaemon import zip_free_path
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
    neither, yet their daemon (``pydaemon``, a package module) must
    start and a kernel that imports the package must run."""
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


def test_python_workers_import_pyspark_from_a_directory(spark):
    """With the package's daemon, a worker imports pyspark from its
    installed directory and has none of Spark's archives on its path
    (each one made every task re-read it: importlib.invalidate_caches)."""

    def report(batches):
        import pandas as pd
        import pyspark

        for _ in batches:
            yield pd.DataFrame({"file": [pyspark.__file__],
                                "path": [list(sys.path)]})

    rows = spark.range(1, numPartitions=1).mapInPandas(
        report, "file string, path array<string>").collect()
    assert rows
    for row in rows:
        names = [os.path.basename(p) for p in row.path]
        assert ".zip" not in row.file, row.file
        assert not [n for n in names if n == "pyspark.zip" or n.endswith(".jar")
                    or (n.startswith("py4j-") and n.endswith(".zip"))], row.path


def _spark_layout(tmp_path, zip_version: str, installed: bool) -> list[str]:
    """A worker path shaped like Spark's: its working directory, the
    pyspark and py4j zips and the core jar, then site-packages with
    (``installed``) or without a pyspark 1.0 and a py4j directory."""
    import zipfile

    lib, site = tmp_path / "lib", tmp_path / "site"
    lib.mkdir()
    site.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f"__version__: str = '{zip_version}'\n")
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    (lib / "spark-core_2.13-1.0.jar").write_bytes(b"")
    if installed:
        for pkg in ("pyspark", "py4j"):
            (site / pkg).mkdir()
            (site / pkg / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text("__version__: str = '1.0'\n")
    return [str(tmp_path), str(lib / "pyspark.zip"),
            str(lib / "py4j-0.10.9.9-src.zip"),
            str(lib / "spark-core_2.13-1.0.jar"), str(site)]


@pytest.mark.parametrize("zip_version, installed, drops", [
    ("1.0", True, True),
    ("1.1", True, False),  # the installed pyspark is another version
    ("1.0", False, False),  # no pyspark directory to fall back on
])
def test_zip_free_path(tmp_path, zip_version, installed, drops):
    path = _spark_layout(tmp_path, zip_version, installed)
    assert zip_free_path(path) == ([path[0], path[-1]] if drops else path)
