"""Vector expression library for embedding similarity.

Dot products and cosine similarity over ``array<float>`` columns,
computed JVM-side with higher-order functions (zip_with + aggregate),
or with the same fold as an Arrow kernel (:func:`cosine_exact_arrow`).
Elements are cast to double before accumulation; accumulation is
sequential in index order, which both Spark and an index-ordered
DuckDB formulation reproduce exactly. There is no other cosine.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — needed at module level so the
# pandas_udf type-hint strings ("pd.Series") resolve

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    sq = F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return F.sqrt(sq)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_exact_arrow():
    """Arrow-vectorized cosine with the SAME floating-point operation
    sequence as the ``zip_with``/``aggregate`` fold — bit-identical to
    :func:`cosine`, at numpy speed (optimization guide §4.2: hand the
    batch to vectorized native code instead of an interpreted
    higher-order function, measured ~25x at 200k rows).

    Determinism proof (why this equals the JVM fold exactly, not just
    "within an ulp"): the fold computes, in index order,
    ``acc_d = acc_{d-1} + x_d * y_d`` with one IEEE-754 double multiply
    and one add per dimension. The kernel below accumulates with a
    Python loop over DIMENSIONS (each step one vectorized multiply and
    one vectorized add across the batch), so every row performs the
    identical operation sequence — same casts (float32 element ->
    float64 is exact), same multiply/add/ sqrt/divide order, no FMA
    fusion, no pairwise/tree summation (the reason plain einsum /
    add.reduce is NOT bit-safe). IEEE-754 ops are deterministic, so
    the doubles match bit-for-bit; rounding stays JVM-side at the
    call site (``F.round(cosine_exact_arrow()(a, b), 6)``) so Spark's
    HALF_UP decimal rounding is byte-identical too.
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos_exact(a: "pd.Series", b: "pd.Series") -> "pd.Series":
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(a.to_numpy()).astype(np.float64)
        B = np.stack(b.to_numpy()).astype(np.float64)
        n = len(A)
        dot = np.zeros(n)
        na = np.zeros(n)
        nb = np.zeros(n)
        for d in range(A.shape[1]):
            x = A[:, d]
            y = B[:, d]
            dot += x * y
            na += x * x
            nb += y * y
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    return cos_exact

