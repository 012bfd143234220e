"""dataset_batch_processor_spark — a PySpark-native analytics engine.

A ground-up, Spark-first rebuild of the capabilities of
majidfida/DataSet-Batch-Processor (reference read-only at
/root/reference; see SURVEY.md for the operator inventory). The
reference is an eager, single-threaded file-at-a-time dataset batch
tool; this package re-expresses every operator as a declarative
DataFrame transformation so Catalyst/Tungsten choose the physical
plan, and extends the surface with the LLM-data-pipeline operators
(dedup, similarity search, multimodal columns, text analysis) needed
at 100 TB scale.

Layout:
    session      — tuned SparkSession builder
    catalog      — fixture tables + reference-derived views
    functions/   — pure Column expression libraries (scalar, text, vector)
    operators/   — DataFrame -> DataFrame operators (tiling, routing,
                   textops, captions, dedup, similarity, textanalysis,
                   relational)
    sources/     — readers (binary images, line-oriented text)
    multimodal/  — binary-column plumbing (mapInPandas decode stubs)
    streaming/   — availableNow stream twins and batch-parity checks
    plans/       — plan-shape assertion helpers
"""

# This module must import nothing: Python workers start from
# ``pydaemon``, which drops Spark's archives from ``sys.path`` before
# pyspark is imported, and the package's ``__init__`` runs before it.
__version__ = "0.1.0"
