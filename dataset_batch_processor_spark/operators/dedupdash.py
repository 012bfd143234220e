"""All-families dedup dashboard (VERDICT r6 next#8).

``docs_dedup_dashboard`` (components.py) reports the two text
families; a pipeline operator deciding retention budgets wants ONE
table across every family the engine runs — text, image, and
embedding — each measured in its own unit:

| family           | base table | removed =                          |
|------------------|------------|------------------------------------|
| exact_hash       | documents  | sum(group_size - 1) over md5 groups|
| minhash_near_dup | documents  | nodes - components of the LSH graph|
| img_dhash        | documents  | nodes - components, dHash graph    |
| img_phash        | documents  | nodes - components, pHash graph    |
| emb_semdedup     | embeddings | n_embeddings - survivors           |

Composition, not recompute: the three pair graphs come from the same
``matcache`` materializations their family queries use, and the CC
label tables are materialized once per session too (``cc_labels_*``)
so the dashboard adds small aggregations over session-shared
artifacts. 100-TB posture: every input here is already
banded/bounded (LSH bands, dHash/pHash band equality, SemDeDup
cluster cap) — the dashboard itself is five tiny aggs and a union.

The DuckDB oracle recomputes each family end-to-end (the graph
closures as recursive-CTE subqueries, SemDeDup via its exact
fixed-point cosine SQL), so a drifted cache or a mislabeled component
could not hash green.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..matcache import materialize_once
from .components import _PAIRS_AS_CTE, connected_components, doc_dup_labels
from .imagedup import _pairs_bare_sql
from .phash import PHASH_PAIRS_DUCK, phash_pairs
from .semdedup import SEMDEDUP_DUCK, semdedup_table


def _labels(spark: SparkSession, sf_dir: str, kind: str,
            build_pairs) -> DataFrame:
    """Session-materialized CC labels over a session-materialized
    pair graph — both shared with the family queries."""
    pairs = materialize_once(spark, f"{kind}_pairs", sf_dir, build_pairs)
    return materialize_once(
        spark, f"cc_labels_{kind}", sf_dir,
        lambda: connected_components(pairs, src="doc_a", dst="doc_b"),
    )


def dhash_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared dHash pair graph + CC labels (matcache kinds
    ``dhash_pairs`` / ``cc_labels_dhash``). Exposed for bench warmup
    (round 12, VERDICT r11 wrong #3: whichever rep of
    img_phash_components / dedup_dashboard_all_families first touched
    these paid a ~9 s cold build, producing the 4-5x spread
    excursions — the r9 build-every-artifact-in-warmup rule applies)."""

    def build() -> DataFrame:
        from .imagedup import dhash_pairs_df

        return dhash_pairs_df(
            catalog.load_table(spark, sf_dir, "documents"), bare=True
        ).select("doc_a", "doc_b")

    return _labels(spark, sf_dir, "dhash", build)


def phash_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared pHash pair graph + CC labels (matcache kinds
    ``phash_pairs`` / ``cc_labels_phash``) — see :func:`dhash_labels`."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    return _labels(
        spark, sf_dir, "phash",
        lambda: phash_pairs(docs).select("doc_a", "doc_b"),
    )


def _graph_row(labels: DataFrame, family: str) -> DataFrame:
    return labels.agg(
        F.lit(family).alias("family"),
        (F.count(F.lit(1)) - F.countDistinct("comp"))
        .cast("bigint")
        .alias("n_removed"),
    )


def _q_dashboard_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_items"))
    n_emb = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_items"))

    exact = docs.groupBy(F.md5("text")).agg(
        F.count(F.lit(1)).alias("c")
    ).agg(
        F.lit("exact_hash").alias("family"),
        F.sum(F.col("c") - 1).cast("bigint").alias("n_removed"),
    )
    minhash = _graph_row(doc_dup_labels(spark, sf_dir), "minhash_near_dup")

    dhash = _graph_row(dhash_labels(spark, sf_dir), "img_dhash")
    phash = _graph_row(phash_labels(spark, sf_dir), "img_phash")
    # session-shared survivor table (round 15) — the dashboard
    # previously re-ran the full cluster-pair computation inline
    surv = semdedup_table(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_surv")
    )
    semd = (
        surv.crossJoin(F.broadcast(n_emb))
        .select(
            F.lit("emb_semdedup").alias("family"),
            (F.col("n_items") - F.col("n_surv"))
            .cast("bigint")
            .alias("n_removed"),
        )
    )

    doc_fams = (
        exact.unionByName(minhash).unionByName(dhash).unionByName(phash)
        .crossJoin(F.broadcast(n_docs))
    )
    emb_fams = semd.crossJoin(F.broadcast(n_emb))
    return (
        doc_fams.unionByName(emb_fams)
        .select(
            "family",
            "n_items",
            "n_removed",
            F.expr("n_removed * 1000000 DIV n_items").alias("removed_ppm"),
        )
        .orderBy("family")
    )


def _cc_removed_subquery(pairs_sql: str, a: str = "doc_a",
                         b: str = "doc_b") -> str:
    """nodes - components of an undirected pair graph, as a scalar
    recursive-CTE subquery (fixture-scale closure, same shape as the
    family component oracles)."""
    return f"""(
  SELECT CAST(count(*) - count(DISTINCT comp) AS BIGINT)
  FROM (
    WITH RECURSIVE gpairs AS ({pairs_sql}),
    sym AS (
      SELECT {a} AS node, {b} AS nbr FROM gpairs
      UNION
      SELECT {b} AS node, {a} AS nbr FROM gpairs
    ),
    reach(node, other) AS (
      SELECT node, nbr FROM sym
      UNION
      SELECT r.node, s.nbr FROM reach r JOIN sym s ON r.other = s.node
    )
    SELECT node, least(node, min(other)) AS comp FROM reach GROUP BY node
  )
)"""


_MINHASH_PAIRS_SQL = (
    "WITH " + _PAIRS_AS_CTE.removeprefix("WITH ")
    + "\nSELECT doc_a, doc_b FROM pairs"
)
_PHASH_PAIRS_SQL = PHASH_PAIRS_DUCK.replace("ORDER BY doc_a, doc_b", "")

DASHBOARD_ALL_DUCK = f"""
WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
fams AS (
  SELECT 'exact_hash' AS family, (SELECT n FROM nd) AS n_items,
         CAST((SELECT sum(c - 1) FROM (
            SELECT count(*) AS c FROM documents GROUP BY md5(text)
         )) AS BIGINT) AS n_removed
  UNION ALL
  SELECT 'minhash_near_dup', (SELECT n FROM nd),
         {_cc_removed_subquery(_MINHASH_PAIRS_SQL)}
  UNION ALL
  SELECT 'img_dhash', (SELECT n FROM nd),
         {_cc_removed_subquery(_pairs_bare_sql("duck"))}
  UNION ALL
  SELECT 'img_phash', (SELECT n FROM nd),
         {_cc_removed_subquery(_PHASH_PAIRS_SQL)}
  UNION ALL
  SELECT 'emb_semdedup', (SELECT n FROM ne),
         (SELECT n FROM ne) - (SELECT CAST(count(*) AS BIGINT)
                               FROM ({SEMDEDUP_DUCK}))
)
SELECT family, n_items, n_removed,
       CAST(n_removed * 1000000 // n_items AS BIGINT) AS removed_ppm
FROM fams
ORDER BY family
"""

QUERIES = {"dedup_dashboard_all_families": _q_dashboard_all}
ORACLES = {"dedup_dashboard_all_families": DASHBOARD_ALL_DUCK}
