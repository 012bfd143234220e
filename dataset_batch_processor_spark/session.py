"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same configuration scales to a
multi-executor cluster because nothing here is local-mode-specific:
AQE handles runtime re-planning (skew joins, partition coalescing),
shuffle partitions default to the core count, and Arrow is enabled
for the pandas-UDF slow path.

The session is long-lived: the bench, the tests, the CLI and the
examples run many short queries in one session, and a pass over a
workload repeats them. Spark keeps its compiled generated classes
(whole-stage codegen, projections, predicates) in one LRU cache keyed
by the generated source and sized by
``spark.sql.codegen.cache.maxEntries``, default 100. The engine's
working set is far larger: one pass of the 366-query registry compiles
4,590 to 4,613 distinct classes (three runs, at sf0.001 and sf0.01).
At 100 entries every pass evicted what the previous pass compiled and
compiled it again in Janino (a second registry pass: 6,990 compiles,
53 s of compile), and the recompiled classes started cold in the JIT.
:data:`CODEGEN_CACHE_MAX_ENTRIES` sizes the cache to the measured
working set instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .matcache import session_dir

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# The largest registry working set above (one pass in one session,
# nothing evicted), rounded up to a power of two with at least 1.5x
# headroom. The price is Metaspace: the kept classes stay loaded, where
# evicted ones could be unloaded. After two registry passes at sf0.001
# it held 251 MB at this cap and 214 MB at 100.
CODEGEN_CACHE_MAX_ENTRIES = 8192
# The directory that holds this package. Python workers get it on
# their PYTHONPATH, so a kernel that imports the package runs whatever
# the driver's working directory is; a driver that only put the
# checkout on its own ``sys.path`` otherwise fails at its first Python
# kernel with ModuleNotFoundError.
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "dataset_batch_processor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    - AQE on: runtime partition coalescing + skew-join splitting, the
      first line of defense against skewed keys at 100 TB.
    - shuffle.partitions sized to cores locally; on a real cluster
      AQE's coalescing makes the initial number less critical.
    - Arrow on: all pandas UDFs move data in columnar batches.
    - UTC session timezone so timestamp semantics are stable.
    - codegen class cache sized to the engine's working set
      (:data:`CODEGEN_CACHE_MAX_ENTRIES`), so a repeated pass reuses
      its compiled classes: a second pass of the llm_curation queries
      went from 171 compiles to 0, a second registry pass at sf0.001
      from 6,990 to 260 and from 237 s to 179 s. The conf is static
      (read once, when the JVM-wide cache is created), so it is set
      on the builder before ``getOrCreate`` and cannot change in a
      running session; ``extra_conf`` can still override it.
    - PySpark call-site capture off, which cuts a query build's Py4J
      round trips about threefold (the trade-off is in the comment at
      the conf); ``extra_conf`` can still override it.
    - Python workers import the package from :data:`PACKAGE_PARENT`
      (``spark.executorEnv.PYTHONPATH``, which Spark merges with the
      process's own PYTHONPATH); ``extra_conf`` can still override it.
    - Python workers start from :mod:`.pydaemon`, found on that same
      path, which imports pyspark and py4j from their installed
      directories instead of Spark's zips: a noop ``mapInPandas`` job
      went from about 0.24 to 0.14 s at 1 partition and from 0.8 to
      0.5 s at 16 (local[4], 4-vCPU host). ``extra_conf`` can still
      override it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): measured here,
        # coalescing to the 64MB advisory size (false) sped the
        # iterative tiny-shuffle operators ~15% but cost 2x on
        # CPU-bound mid-size shuffles (jaccard verify, gram joins) by
        # shrinking their post-shuffle parallelism.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # event fixtures may store TIMESTAMP(NANOS); normalize_event_ts floors it
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # static conf: sized by CODEGEN_CACHE_MAX_ENTRIES
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # PySpark call-site capture off. On, every Column/DataFrame API
        # call also asks the JVM for the active session and a conf and
        # sets/clears a call-site origin, after a Python stack walk:
        # about 3x the Py4J round trips of the call itself, and a build
        # is mostly such calls (building one stream-twin micro-batch
        # step, ``incremental.lsh_step``: 1,132 round trips on, 432
        # off; tests/test_build_registry.py pins it). The price: a
        # runtime error (a divide by zero under ANSI, a failed cast)
        # loses the PySpark call-site fragment of its DataFrame query
        # context. Analysis errors still raise at the builder line with
        # a Python traceback, and queries built from SQL strings keep
        # their SQL fragment. PySpark reads the flag once per process.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
        .config("spark.python.daemon.module", f"{__package__}.pydaemon")
    )
    # static conf: the managed-table warehouse. Unset, each new
    # session gets its own session directory (removed at exit, kept by
    # cleanup_scratch); a running session keeps its warehouse, so none
    # is made for it.
    warehouse = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if warehouse is None and SparkSession.getActiveSession() is None:
        warehouse = session_dir("dbp_warehouse_")
    if warehouse is not None:
        builder = builder.config("spark.sql.warehouse.dir", warehouse)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
