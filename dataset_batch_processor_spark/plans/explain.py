"""Plan-shape assertions (SURVEY.md §5.2 item 5).

Correctness says what a query returns; these helpers pin HOW — that
filters reach the scan, projections prune columns, small sides
broadcast, and no unexpected shuffle appears. They parse
``explain(formatted)`` output, which is stable enough for the
patterns asserted here.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """explain("formatted") as a string. Taken directly from the JVM
    (queryExecution.explainString) rather than by capturing stdout:
    redirect_stdout swaps the PROCESS-global sys.stdout, so the
    capture path corrupts plans when audit_registry explains from
    several threads at once."""
    try:
        jvm = df.sparkSession._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        return df._jdf.queryExecution().explainString(mode)
    except Exception:  # pragma: no cover - connect/classic drift
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (AQE may later
    coalesce them, but each one is still a full shuffle write).

    Counts only the numbered node-detail headers — the tree rendering
    at the top of ``explain(formatted)`` repeats every node name.
    BroadcastExchange is excluded (not a shuffle)."""
    plan = formatted_plan(df)
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, re.MULTILINE))


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan's PushedFilters mentions ``fragment``."""
    plan = formatted_plan(df)
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if fragment.lower() in m.group(1).lower():
            return True
    return False


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """The column sets actually read from each parquet scan
    (ReadSchema) — the column-pruning check."""
    plan = formatted_plan(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def broadcast_join_count(df: DataFrame) -> int:
    return len(
        re.findall(
            r"^\(\d+\) Broadcast(?:HashJoin|NestedLoopJoin)\b",
            formatted_plan(df),
            re.MULTILINE,
        )
    )
