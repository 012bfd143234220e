"""Atomic snapshot publishing: versioned table directories with
manifest-commit visibility.

The production contract a routed/partitioned write needs and plain
``df.write.parquet`` lacks: readers must NEVER see a half-written
snapshot. The protocol is the standard two-phase layout the table
formats use (a minimal Delta/Iceberg-style commit, without their
server):

1. write data to ``<table>/_staging_<nonce>/`` (invisible to readers)
2. atomically rename it to ``<table>/v=N/``
3. commit by atomically publishing ``<table>/_commits/N.json``
   (write-to-temp + rename) with row count and file census

A reader resolves the LATEST COMMITTED version from the manifest
directory and reads only that data dir — a crash after step 1 or 2
leaves an orphan directory that no reader ever sees. Old versions
stay readable by pin (``read_snapshot(version=3)``): snapshot-level
time travel, complementing analytics.py's row-level SCD2.

Scope note: atomicity here rides on POSIX/HDFS ``rename``. An object
store without atomic rename needs a log-service commit instead (what
Delta's LogStore abstracts); the MANIFEST protocol is unchanged,
which is why it is the layer tested here.
"""

from __future__ import annotations

import errno
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

_COMMITS = "_commits"


def _commit_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _COMMITS)


def committed_versions(table_dir: str) -> list[int]:
    cdir = _commit_dir(table_dir)
    if not os.path.isdir(cdir):
        return []
    out = []
    for name in os.listdir(cdir):
        if name.endswith(".json"):
            try:
                out.append(int(name[:-5]))
            except ValueError:
                continue
    return sorted(out)


def publish_snapshot(df: DataFrame, table_dir: str) -> int:
    """Write ``df`` as the next committed version of ``table_dir``;
    returns the version number. Safe against crashed prior attempts:
    orphan ``v=N`` directories without a manifest are skipped over,
    never reused."""
    os.makedirs(_commit_dir(table_dir), exist_ok=True)
    staging = os.path.join(table_dir, f"_staging_{uuid.uuid4().hex}")
    df.write.parquet(staging)

    committed = committed_versions(table_dir)
    version = (committed[-1] if committed else 0) + 1
    while True:
        data_dir = os.path.join(table_dir, f"v={version}")
        try:
            os.rename(staging, data_dir)  # atomic claim of v=N
            break
        except OSError as e:
            # retry ONLY the target-exists collision (an orphan from
            # a crashed attempt); any other rename failure — staging
            # removed by another process, permissions — must surface,
            # not spin the version counter forever
            if e.errno in (errno.EEXIST, errno.ENOTEMPTY) or (
                os.path.exists(data_dir) and os.path.exists(staging)
            ):
                version += 1
            else:
                raise

    files = sorted(
        f for f in os.listdir(data_dir) if f.startswith("part-")
    )
    manifest = {
        "version": version,
        "files": files,
        "n_files": len(files),
    }
    tmp = os.path.join(_commit_dir(table_dir), f".{version}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, os.path.join(_commit_dir(table_dir), f"{version}.json"))
    return version


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the latest committed version (or a pinned one). Raises if
    nothing is committed or the pin was never committed."""
    committed = committed_versions(table_dir)
    if not committed:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    if version is None:
        version = committed[-1]
    elif version not in committed:
        raise FileNotFoundError(
            f"version {version} not committed in {table_dir} "
            f"(committed: {committed})"
        )
    return spark.read.parquet(os.path.join(table_dir, f"v={version}"))
