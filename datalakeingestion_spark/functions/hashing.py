"""Portable deterministic hashes.

Two families:

- ``portable_hash32`` / ``portable_hash60`` — md5-prefix hashes that produce
  IDENTICAL values in Spark SQL and DuckDB (and any engine with md5 +
  hex parsing). Used wherever an operator's output must be checkable
  against the ANSI-SQL oracle (MinHash, SimHash, fingerprints).
- For pure-Spark production paths where cross-engine parity doesn't matter,
  prefer ``F.xxhash64`` (cheaper than md5; same 64-bit space).

DuckDB equivalents (used in oracle SQL):
    portable_hash32(x) == ('0x' || substr(md5(x), 1, 8))::BIGINT
    portable_hash60(x) == ('0x' || substr(md5(x), 1, 15))::BIGINT

Each hash has a Column form and a Spark SQL text form. The text form lets
a builder that needs many hash expressions (MinHash's k permutations)
write each one as a single ``F.expr`` instead of a chain of py4j calls.
Both forms come from ``_md5_prefix``, and tests/test_dedup.py pins them
to the same plan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


_HASH32_DIGITS = 8
_HASH60_DIGITS = 15


def _md5_prefix(x: Column | str, digits: int) -> Column | str:
    """The one definition of the portable hashes: the first ``digits`` hex
    digits of md5(x) read as a base-16 number, as BIGINT. A Column gives a
    Column; a string is taken as SQL text and gives SQL text."""
    if isinstance(x, str):
        return f"CAST(conv(substring(md5({x}), 1, {digits}), 16, 10) AS BIGINT)"
    return F.conv(F.substring(F.md5(x), 1, digits), 16, 10).cast("long")


def portable_hash32(col: Column | str) -> Column:
    """First 32 bits of md5 as a non-negative BIGINT in [0, 2^32)."""
    c = F.col(col) if isinstance(col, str) else col
    return _md5_prefix(c, _HASH32_DIGITS)


def portable_hash32_sql(expr: str) -> str:
    """``portable_hash32`` as Spark SQL text over the SQL expression ``expr``."""
    return _md5_prefix(expr, _HASH32_DIGITS)


def portable_hash60(col: Column | str) -> Column:
    """First 60 bits of md5 as a non-negative BIGINT in [0, 2^60)."""
    c = F.col(col) if isinstance(col, str) else col
    return _md5_prefix(c, _HASH60_DIGITS)
