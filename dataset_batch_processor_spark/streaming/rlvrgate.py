"""Streaming pass@k scoreboard — the micro-batch twin of
docs_passk_estimate (operators/rlvr.py), extending the streaming-twin
family (convgate/quotagate/qualitygate) to verifiable-reward data.

Rollout grading is stateless per TASK (all of a document's rollouts
and its verifier answer derive from that document alone), so each
arriving shard commits a per-batch PARTIAL: the histogram of
``n_correct`` values — at most N_ROLLOUTS+1 rows per batch. The
histogram is associative, and the Chen et al. per-task estimator
depends ONLY on ``n_correct``, so merge-on-read recomputes pass@k
EXACTLY:

    pass@k = sum_c cnt_c * (10^6 - C(n-c,k)*10^6 // C(n,k)) // n_tasks

equals the one-pass batch rollup term for term — the SAME DuckDB
oracle that gates docs_passk_estimate gates the whole loop
(micro-batch grading, idempotent commits, merge-on-read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fixtures
from ..operators import rlvr

_PARTIAL_TAIL = """
SELECT n_correct, n_rolls, CAST(count(*) AS BIGINT) AS n_tasks
FROM task GROUP BY n_correct, n_rolls
"""


def grade_partial(batch_docs: DataFrame) -> DataFrame:
    """(n_correct, n_rolls, n_tasks) histogram for one shard via the
    gated grading chain — n_rolls rides along so read_passk's
    binomial term uses the TASK's own rollout count (ADVICE r12)."""
    return fixtures.batch_sql(
        batch_docs, lambda view: rlvr._sql("spark", _PARTIAL_TAIL, table=view)
    )


def read_passk(spark: SparkSession, commits_dir: str) -> DataFrame:
    """Merge the partials and recompute pass@k exactly from the
    (n_correct, n_rolls)-histogram + the constant binomial relation.

    The partial carries ``n_rolls`` per row (ADVICE r12): the
    estimator's C(n-c,k)/C(n,k) term uses the TASK's own rollout
    count, as the batch oracle does, instead of assuming every graded
    task saw exactly N_ROLLOUTS rollouts — so a future chain with
    variable per-task rollouts keeps streaming/batch parity."""
    spark.read.parquet(commits_dir).groupBy("n_correct", "n_rolls").agg(
        F.sum("n_tasks").cast("long").alias("n_tasks")
    ).createOrReplaceTempView("rlvr_chist")
    return spark.sql(f"""
WITH {rlvr._comb_cte("spark")},
sel AS (
  SELECT cb.k,
         h.n_tasks,
         (1000000 - (cb.c * 1000000 DIV cn.c)) AS task_ppm
  FROM rlvr_chist h
       JOIN comb cb ON cb.m = h.n_rolls - h.n_correct
       JOIN comb cn ON cn.m = h.n_rolls AND cn.k = cb.k
)
SELECT CAST(k AS INT) AS k,
       CAST(sum(n_tasks) AS BIGINT) AS n_tasks,
       CAST(sum(task_ppm * n_tasks) DIV sum(n_tasks) AS BIGINT)
           AS pass_at_k_ppm
FROM sel GROUP BY k
""")


QUERIES = {
    "docs_stream_passk": fixtures.Twin(
        "documents", ("doc_id", "text"), "doc_id",
        grade_partial, fixtures.merge_commits(read_passk),
    )
}
# batch parity: the estimator is a function of the associative
# c-histogram alone, so the drained stream equals the one-pass batch
# rollup — the SAME oracle that gates docs_passk_estimate.
ORACLES = {"docs_stream_passk": rlvr.PASSK_DUCK}
