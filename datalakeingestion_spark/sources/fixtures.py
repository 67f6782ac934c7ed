"""Fixture-table access (the harness's parquet star schema).

Replaces the reference's per-source readers for testing purposes: every
operator in the engine is demonstrated over these tables (see TESTDATA.md).
A ``spark.read.parquet`` with the file's schema pinned — Catalyst handles
column pruning and filter pushdown into the scan, which is the behavior
the reference hand-codes in its SQL generation (reference:
extractors/ingest_mysql_data.py:164-200, 250-267).

Schema inference is a Spark job (a footer read), and a query plan may load
several tables, so each file's schema is inferred once and cached, keyed
by the file's absolute path, size and mtime: a rewritten file is inferred
again, and every other read passes the cached schema to ``.schema(...)``
and launches no job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Columns whose parquet storage needs normalization to TimestampType (LTZ)
# with the naive wall clock read as a UTC instant — exactly what DuckDB's
# reader does, so oracle comparisons agree:
#   * TIMESTAMP(NANOS): Spark 4 cannot read as TimestampType — read as raw
#     nanosecond longs (spark.sql.legacy.parquet.nanosAsLong) + truncate.
#   * TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 reads TIMESTAMP_NTZ;
#     convert via wall-clock micros since the NTZ epoch (session-tz
#     independent — a plain cast would re-interpret in the session zone).
_NANOS_TS_COLUMNS = {"events": ("ts",)}


def ntz_wall_clock_as_utc(col: str):
    """TIMESTAMP_NTZ column → TimestampType instant equal to its wall clock
    read as UTC, regardless of spark.sql.session.timeZone."""
    return F.timestamp_micros(
        F.expr(f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', {col})")
    )


# (absolute path, st_size, st_mtime_ns) -> the schema Spark inferred for
# that version of the file. Process-wide, since every plan calls
# load_table with no state to keep it in; a key names one file version,
# so an entry never goes stale. Two threads' first reads may both infer.
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """The file read with its cached schema, and its raw column dtypes.
    The first read of each file version infers the schema."""
    try:
        st = os.stat(path)
    except OSError:  # not a local file (a Hadoop URI): nothing to key on
        df = spark.read.parquet(path)
        return df, dict(df.dtypes)
    key = (os.path.abspath(path), st.st_size, st.st_mtime_ns)
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        schema = _SCHEMAS[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    return df, {f.name: f.dataType.simpleString() for f in schema}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    if name in _NANOS_TS_COLUMNS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df, dtypes = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANOS_TS_COLUMNS.get(name, ()):
        dtype = dtypes.get(col)
        if dtype == "bigint":
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, ntz_wall_clock_as_utc(col))
    return df


def load_events_pruned(
    spark: SparkSession,
    sf_dir: str,
    lo: str | None = None,
    hi: str | None = None,
) -> DataFrame:
    """events with a pushdown-friendly time-range prefilter.

    The ns→µs conversion wraps ``ts`` in an expression, so a filter on the
    CONVERTED column cannot reach the parquet scan (only IsNotNull pushes
    → full scan at scale). This loader filters the RAW nanosecond long
    first — a strict superset of any [lo, hi] predicate on the truncated
    µs value (truncation only lowers values; +999 ns covers the upper
    edge) — so row-group min/max skipping works; callers still apply
    their exact predicate on the converted column (cheap residual).
    """
    import pandas as pd

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df, dtypes = _read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    dtype = dtypes.get("ts")
    if dtype == "bigint":
        if lo is not None:
            df = df.filter(F.col("ts") >= F.lit(int(pd.Timestamp(lo).value)))
        if hi is not None:
            df = df.filter(F.col("ts") <= F.lit(int(pd.Timestamp(hi).value) + 999))
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dtype == "timestamp_ntz":
        # Filter on the NATIVE column with NTZ literals (both wall clocks,
        # tz-independent) so the range predicate pushes into the scan; a
        # comparison against an LTZ literal would coerce the column and
        # block pushdown. Conversion to the UTC instant happens after.
        if lo is not None:
            df = df.filter(F.col("ts") >= F.lit(lo).cast("timestamp_ntz"))
        if hi is not None:
            df = df.filter(F.col("ts") <= F.lit(hi).cast("timestamp_ntz"))
        df = df.withColumn("ts", ntz_wall_clock_as_utc("ts"))
    else:  # native µs LTZ read
        if lo is not None:
            df = df.filter(F.col("ts") >= F.lit(lo).cast("timestamp"))
        if hi is not None:
            df = df.filter(F.col("ts") <= F.lit(hi).cast("timestamp"))
    return df
