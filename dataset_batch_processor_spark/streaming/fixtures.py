"""The availableNow stream twins: shard staging, the one drain, and the
twin registry.

A stream twin is a streaming version of a batch query whose drained
result the batch query's DuckDB oracle checks. Each twin module keeps
only three things:

- its staging rule — catalog table, columns and shard key — staged
  once per (session, table, layout, dataset) by :func:`stage_shards`
  through ``matcache.staged_once``, so bench warm-up pre-builds it and
  a twin's timing is its drain, not fixture I/O;
- its per-batch step (a partial, plus for the two dual-sink twins a
  second sink);
- its merge-on-read and oracle.

:func:`drain` owns everything else — stream wiring, drain sizing, the
commit layout and the replay rule — and :class:`Twin` binds the three
parts into the registered query, so ``isinstance(fn, Twin)`` over
``queries()`` is the one list of twins.

Staging layout: one ``coalesce(1)`` append per shard slice, in slice
order, :data:`SHARDS` shards. Same file count, same per-file contents,
same append sequence, so ``maxFilesPerTrigger=1`` drains the same
micro-batch sequence every run. Two micro-batches prove what more
would — multi-batch accumulation, idempotent per-batch commits and
merge-on-read — and every twin's gate is invariant to the batch
partitioning (counts and sketches merge; pair and digest sets are
emission-exact).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import catalog
from ..matcache import scratch_dir, staged_once

# A micro-batch is input-bounded (one staged shard), so its shuffle
# width tracks per-batch volume, not the session's core count: at a
# session default of 32 every per-batch aggregation and commit pays 32
# tasks and 32 output files. Measured at sf0.1 across the six heaviest
# twins: 32 -> 4 cuts each drain 30-50%. The gated outputs are
# partitioning-invariant, which every twin's oracle re-proves.
DRAIN_PARTITIONS = "4"
SHARDS = 2

Step = Callable[..., "DataFrame | dict[str, DataFrame]"]


def stage_shards(
    frame: DataFrame, kind: str, key: str, shard_key: str
) -> str:
    """Stage ``frame`` as :data:`SHARDS` single-file parquet appends
    split by ``pmod(shard_key, SHARDS)`` (slice order preserved), once
    per (session, kind, layout, key); returns the staging directory.
    Twins that stage the same columns of one table on the same shard
    key share it."""

    def write(path: str) -> None:
        for part in range(SHARDS):
            frame.filter(
                F.expr(f"pmod({shard_key}, {SHARDS})") == part
            ).coalesce(1).write.mode("append").parquet(path)

    # the layout is cache identity: another column selection or shard
    # key gets its own staging dir instead of silently sharing this one
    layout = f"pmod({shard_key},{SHARDS})|{','.join(frame.columns)}"
    return staged_once(frame.sparkSession, kind, key, write, layout=layout)


def batch_sql(batch: DataFrame, sql: Callable[[str], str]) -> DataFrame:
    """``spark.sql(sql(view))`` with ``batch`` registered as ``view``,
    a temp-view name unique to this call. Two streams sharing a
    session cannot race on one global name (a partial computed over
    the other stream's batch would be a wrong, permanently committed
    answer). The view is dropped on return: ``spark.sql`` analyses
    eagerly, so the returned frame no longer needs it."""
    spark = batch.sparkSession
    view = f"stream_batch_{uuid.uuid4().hex}"
    batch.createOrReplaceTempView(view)
    try:
        return spark.sql(sql(view))
    finally:
        spark.catalog.dropTempView(view)


def _prior(spark: SparkSession, sink_dir: str, batch_id: int):
    """The sink's committed batches other than ``batch_id``, or None
    when there are none."""
    path = spark._jvm.org.apache.hadoop.fs.Path(sink_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return None
    others = sorted(
        st.getPath().toString()
        for st in fs.listStatus(path)
        if st.getPath().getName().startswith("batch_id=")
        and st.getPath().getName() != f"batch_id={batch_id}"
    )
    if not others:
        return None
    return spark.read.option("basePath", sink_dir).parquet(*others)


def commit_batch(
    batch: DataFrame, batch_id: int, work_dir: str, step: Step,
    reads: tuple[str, ...] = (),
) -> None:
    """One micro-batch of :func:`drain`: run ``step`` and commit its
    sinks (the rules are in :func:`drain`'s docstring)."""
    spark = batch.sparkSession
    prior = {s: _prior(spark, os.path.join(work_dir, s), batch_id)
             for s in reads}
    out = step(batch, **prior)
    sinks = out if isinstance(out, dict) else {"commits": out}

    def write(sink: str) -> None:
        sinks[sink].write.mode("overwrite").parquet(
            os.path.join(work_dir, sink, f"batch_id={batch_id}")
        )

    shared = [df for df in sinks.values() if df.is_cached]
    try:
        for df in shared:
            df.count()
        if len(sinks) == 1:
            write(next(iter(sinks)))
        else:
            with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
                for fut in [pool.submit(write, s) for s in sinks]:
                    fut.result()
    finally:
        for df in shared:
            df.unpersist()


def drain(
    spark: SparkSession, staged_dir: str, schema: StructType, step: Step,
    work_dir: str | None = None, reads: tuple[str, ...] = (),
) -> str:
    """Drain ``staged_dir`` (files of ``schema``, the staged frame's)
    through ``step`` as an availableNow stream, one micro-batch per
    staged file; returns the work directory (a fresh scratch directory
    unless ``work_dir`` is given).

    ``step(batch, **prior)`` returns the batch's partial, committed to
    sink ``commits``, or a dict of sink name -> frame. For each sink
    name in ``reads`` it receives that sink's earlier commits as a
    keyword argument (None when there are none).

    Commit rule. foreachBatch is at-least-once, so micro-batch ``N``
    of sink ``s`` is written to ``<work>/<s>/batch_id=N`` with
    overwrite: a replayed batch replaces its own partition instead of
    appending duplicates. Several sinks are written concurrently. A
    frame the step persisted and returned as a sink is the work the
    sinks share: it is materialized once before the writes and
    unpersisted after them.

    Replay rule. A step's read of its own earlier sinks covers the
    committed batches other than ``N`` only. A batch killed after its
    sinks committed but before the checkpoint did is replayed with
    the same id; reading its own commit would anti-join away its own
    rows, and its concurrent overwrite would delete files the read
    is still scanning.

    Sizing. Shuffles inside the drain (stream build, start and
    awaitTermination) run at :data:`DRAIN_PARTITIONS`
    (``catalog.shuffle_partitions``)."""
    work = work_dir or scratch_dir("dbp_drain_")
    with catalog.shuffle_partitions(spark, DRAIN_PARTITIONS):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged_dir)
            .writeStream.foreachBatch(
                lambda batch, n: commit_batch(batch, n, work, step, reads)
            )
            .option("checkpointLocation", os.path.join(work, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return work


@dataclass(frozen=True)
class Twin:
    """A registered stream twin; calling it runs the query.

    The staging rule is ``columns`` of catalog ``table`` sharded on
    ``shard_key`` (:func:`stage_shards`); ``step`` and ``reads`` are
    :func:`drain`'s; ``merge(spark, sf_dir, work)`` reads the drained
    sinks back into the gated result."""

    table: str
    columns: tuple[str, ...]
    shard_key: str
    step: Step
    merge: Callable[[SparkSession, str, str], DataFrame]
    reads: tuple[str, ...] = ()

    def frame(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        return catalog.load_table(spark, sf_dir, self.table).select(
            *self.columns
        )

    def stage(self, spark: SparkSession, sf_dir: str) -> str:
        frame = self.frame(spark, sf_dir)
        return stage_shards(frame, self.table, sf_dir, self.shard_key)

    def __call__(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        frame = self.frame(spark, sf_dir)
        staged = stage_shards(frame, self.table, sf_dir, self.shard_key)
        work = drain(spark, staged, frame.schema, self.step,
                     reads=self.reads)
        return self.merge(spark, sf_dir, work)


def merge_commits(read: Callable[[SparkSession, str], DataFrame]):
    """``Twin.merge`` for a single-sink twin from its reader of the
    ``commits`` sink directory."""
    return lambda spark, _sf_dir, work: read(
        spark, os.path.join(work, "commits")
    )
