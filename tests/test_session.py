"""The session factory's codegen class cache holds a repeated pass."""

from __future__ import annotations

import os
import sys

import __spark_entry__ as entry
from dataset_batch_processor_spark import matcache
from dataset_batch_processor_spark.session import CODEGEN_CACHE_MAX_ENTRIES

_PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "perfbench")


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
