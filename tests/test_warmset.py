"""One session warm set (``warmset``): the bench, the profiler,
perfbench and the tests agree on it, and every entry builds."""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

import pytest

import __spark_entry__ as entrymod
from dataset_batch_processor_spark import warmset
from dataset_batch_processor_spark.streaming.fixtures import Twin

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(path: str, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_perfbench_warm_builds_are_registry_entries():
    perfbench = os.path.join(REPO, "perfbench")
    sys.path.insert(0, perfbench)
    try:
        import workloads
    finally:
        sys.path.remove(perfbench)
    # building the thunks needs no session: none of them runs
    builds = workloads.warm_builds("llm_curation", None, "unused")
    labels = {label for layer, label, _ in builds if layer == "matcache"}
    assert labels == {"minhash_sigs", "pair_graph", "ivf_flat_assign"}
    assert labels <= set(warmset.BUILDS)
    own = workloads.OWN_RESULT_CACHE
    assert {q: warmset.RESULT_CACHES.get(q) for q in own} == own


def test_result_caches_name_registered_queries():
    assert set(warmset.RESULT_CACHES) <= set(entrymod.queries())


def test_warm_builds_every_entry(spark, sf_dir):
    qs = entrymod.queries()
    took = warmset.warm(spark, sf_dir, qs)
    twins = [f"stage:{n}" for n, fn in qs.items() if isinstance(fn, Twin)]
    assert list(took) == [*warmset.GENERIC, *warmset.BUILDS, *twins]
    assert all(s >= 0 for s in took.values())


BENCH = os.path.join(REPO, "bench.py")


@pytest.mark.parametrize(
    "path",
    [BENCH,
     *sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))],
    ids=os.path.basename,
)
def test_scripts_import(path):
    """Every script imports, with no ``main()`` call: a tool whose
    package imports rotted fails here, not on its next use."""
    mod = _load(path, "script_" + os.path.basename(path)[:-3])
    assert callable(mod.main)
    if path == BENCH:
        assert set(mod.HEADLINE) <= set(entrymod.queries())


def test_no_tool_shadows_a_stdlib_module():
    """A script puts its own directory first on sys.path, so a
    tools/profile.py would replace the standard library's ``profile``
    (which cProfile, and through it pyspark, imports) for every tool:
    ``python tools/verify_oracle.py`` then fails inside pyspark."""
    stems = {
        os.path.basename(p)[:-3]
        for p in glob.glob(os.path.join(REPO, "tools", "*.py"))
    }
    assert not stems & sys.stdlib_module_names
