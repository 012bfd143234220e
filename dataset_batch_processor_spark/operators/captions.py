"""Caption operators — SURVEY.md §2.6 (J1, J2) and §2.2/2.7 (K10, A5).

The reference associates images with sidecar .txt captions by
basename (/root/reference/modules/skip_tiles.py:41-48) and keeps an
MRU-ordered caption dictionary (caption_manager.py:3-26). Spark
mapping: a broadcast left join and a tiny upserted dimension table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import scalar


def join_captions(images: DataFrame, captions: DataFrame) -> DataFrame:
    """J1: images LEFT JOIN captions ON basename, null-tolerant.

    The caption side is small (one short string per image at most) —
    broadcast it so the join is shuffle-free at any scale.
    """
    return images.join(
        F.broadcast(captions.select("basename", "caption")), "basename", "left"
    ).select("image_id", "basename", "ext", "width", "height", "caption")


JOIN_CAPTIONS_SQL = """
WITH {images_cte},
{captions_cte}
SELECT i.image_id, i.basename, i.ext, i.width, i.height, c.caption
FROM images_meta i LEFT JOIN captions c ON i.basename = c.basename
"""


def mru_captions(caption_dict: DataFrame) -> DataFrame:
    """A5: caption list ordered most-recently-used first
    (/root/reference/modules/caption_manager.py:19-22); the rank
    column makes the MRU order a checkable value, not a row order.

    The dict is UI-sized in the reference, but rank via the two-pass
    textops.attach_rank anyway — an unpartitioned row_number window
    would funnel the whole dict through one task if a pipeline ever
    feeds a corpus-scale caption table through this operator."""
    from .textops import attach_rank

    normalized = caption_dict.filter(
        scalar.is_nonempty_caption(F.col("caption"))
    ).select(scalar.normalize_caption(F.col("caption")).alias("caption"), "last_used_seq")
    return (
        attach_rank(
            normalized.withColumn("_negseq", -F.col("last_used_seq")),
            ["_negseq", "caption"],
            out_col="mru_rank",
        )
        .drop("_negseq")
        .withColumn("mru_rank", F.col("mru_rank").cast("int"))
    )


MRU_CAPTIONS_SQL = """
WITH {caption_dict_cte}
SELECT trim(caption) AS caption, last_used_seq,
       CAST(row_number() OVER (ORDER BY last_used_seq DESC, caption)
            AS INT) AS mru_rank
FROM caption_dict
WHERE length(trim(caption)) > 0
"""


def upsert_caption(caption_dict: DataFrame, caption: str, seq: int) -> DataFrame:
    """K10 save_caption semantics (/root/reference/modules/
    caption_manager.py:14-26): strip; no-op if empty; remove any
    existing occurrence; insert at front (= new max recency).

    Move-to-front ≡ upsert with a larger last_used_seq; dedup keeps
    the max recency per caption.
    """
    c = caption.strip()
    if not c:
        return caption_dict
    spark = caption_dict.sparkSession
    new_row = spark.createDataFrame(
        [(c, seq)], schema="caption string, last_used_seq long"
    )
    return (
        caption_dict.select("caption", F.col("last_used_seq").cast("long"))
        .unionByName(new_row)
        .groupBy("caption")
        .agg(F.max("last_used_seq").alias("last_used_seq"))
    )


def upsert_caption_sql(caption_dict_cte: str, caption: str, seq: int) -> str:
    c = caption.strip().replace("'", "''")
    return f"""
WITH {caption_dict_cte},
unioned AS (
  SELECT caption, CAST(last_used_seq AS BIGINT) AS last_used_seq FROM caption_dict
  UNION ALL SELECT '{c}', CAST({seq} AS BIGINT)
)
SELECT caption, max(last_used_seq) AS last_used_seq
FROM unioned GROUP BY caption
"""
