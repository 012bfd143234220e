"""Text-hashing and tokenization expression library.

Used by the dedup / text-analysis operators. All hashing is built on
md5 so the Spark plan and the DuckDB oracle compute bit-identical
values: Spark's own ``hash()``/``xxhash64()`` have no DuckDB
counterpart, but both engines agree on ``md5`` hex strings and on
casting a 15-hex-digit prefix to a BIGINT (60 bits, always positive,
fits int64).

Spark side: ``conv(substr(md5(x), 1, 15), 16, 10)`` cast to long.
DuckDB side: ``CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokens = maximal runs of word characters, lowercased. Both engines
# express this as regexp_extract_all-style splitting on whitespace;
# the fixture corpus is whitespace-separated lowercase words.
TOKEN_SPLIT_RE = r"\s+"


def md5_long(c: Column) -> Column:
    """60-bit non-negative int64 hash shared with the DuckDB oracle."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string -> empty array."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, TOKEN_SPLIT_RE)
    )
