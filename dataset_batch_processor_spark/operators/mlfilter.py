"""ML predicate filter — SURVEY.md §2.4 F5 (skip_tiles).

The reference's only ML operator is dead code
(/root/reference/modules/skip_tiles.py:29-48, imported nowhere —
SURVEY.md §2.9.9): MTCNN face detection, keep a tile iff any face has
confidence >= 0.95, else move tile + sidecar to a skip folder.

Spark-first shape: a per-row confidence column and an F4-style
routing column, keep iff confidence >= 0.95. The scorer here is the
hash scorer — deterministic and codec-free: the confidence is derived
from the md5 of the row id, so the full routing decision stays
SQL-oracle-able. A real detector would replace that column with a
batch-inference kernel on the executors (model broadcast once per
worker — the standard Spark inference pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..functions.text import md5_long

CONF_THRESHOLD = 0.95


def hash_confidence_expr(id_col: F.Column) -> F.Column:
    """Deterministic pseudo-confidence in [0, 1): md5-derived — the
    same value is computable in DuckDB, keeping F5 oracle-checkable."""
    return (md5_long(id_col) % 1000).cast("double") / 1000.0


# ------------------------------------------------ oracle-checked query
# The hash scorer's confidence is pure SQL, so the full F5 routing
# decision is verifiable relationally over images_meta.

def _q_ml_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    images = catalog.images_meta(spark, sf_dir)
    conf = hash_confidence_expr(F.col("basename"))
    return images.select(
        "image_id",
        "basename",
        conf.alias("confidence"),
        F.when(conf >= CONF_THRESHOLD, F.lit("keep"))
        .otherwise(F.lit("skip"))
        .alias("route"),
    )


ML_ROUTE_DUCK = f"""
WITH {catalog.IMAGES_META_SQL.strip()},
scored AS (
  SELECT image_id, basename,
         CAST(CAST(concat('0x', substr(md5(basename), 1, 15)) AS BIGINT) % 1000
              AS DOUBLE) / 1000.0 AS confidence
  FROM images_meta
)
SELECT image_id, basename, confidence,
       CASE WHEN confidence >= {CONF_THRESHOLD} THEN 'keep' ELSE 'skip' END AS route
FROM scored
"""

QUERIES = {"ml_face_route": _q_ml_route}
ORACLES = {"ml_face_route": ML_ROUTE_DUCK}
