"""Landing-zone file ingestion (reference operator S9, post-download half).

The reference pulls BingAds/GoogleAds report attachments from a mailbox
and uploads them for ingestion (extractors/ingest_files.py — acquisition
is out-of-engine here). Once files land in a directory, this reader turns
them into typed DataFrames:

- csv / parquet / json / orc natively (orc ships in Spark's jars);
- avro behind a format-availability check (spark-avro is an external
  package — present on most clusters, absent here);
- xlsx via openpyxl/pandas when installed, else the stdlib-only
  SpreadsheetML reader in config/xlsx.py (plain header+rows sheets —
  exactly what report attachments are — need no external dependency);
- ``binaryFile`` for opaque payloads (feeds operators/multimodal.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..utils import driver_frame


def read_landing(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: T.StructType | None = None,
    **options,
) -> DataFrame:
    fmt = fmt.lower()
    if fmt == "csv":
        reader = spark.read.option("header", True)
        if schema is not None:
            reader = reader.schema(schema)
        else:
            reader = reader.option("inferSchema", True)
        return reader.options(**options).csv(path)
    if fmt == "parquet":
        return spark.read.options(**options).parquet(path)
    if fmt == "json":
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.options(**options).json(path)
    if fmt == "orc":
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.options(**options).orc(path)
    if fmt == "avro":
        return _read_avro(spark, path, schema, **options)
    if fmt == "binary":
        return spark.read.format("binaryFile").options(**options).load(path)
    if fmt in ("xlsx", "excel"):
        return _read_excel(spark, path)
    raise ValueError(f"unsupported landing format {fmt!r}")


def _read_avro(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None,
    **options,
) -> DataFrame:
    reader = spark.read.format("avro")
    if schema is not None:
        reader = reader.schema(schema)
    try:
        return reader.options(**options).load(path)
    except Exception as exc:  # spark-avro is an external package
        if "AVRO" in str(exc).upper() or "avro" in str(exc):
            raise NotImplementedError(
                "avro ingestion needs the spark-avro package "
                "(org.apache.spark:spark-avro — standard on clusters, not "
                "bundled in this environment)"
            ) from exc
        raise


def _read_excel(spark: SparkSession, path: str) -> DataFrame:
    """openpyxl/pandas when available (full Excel feature surface);
    otherwise the stdlib SpreadsheetML reader (config/xlsx.py), which
    covers the plain header+rows sheets report attachments actually are
    (inline or shared strings, numbers, sparse cells)."""
    import os

    # landing-zone convention: servername may be a DIRECTORY of sheets
    # (like the csv/json siblings) — union all .xlsx files in it
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, n)
            for n in os.listdir(path)
            if n.lower().endswith(".xlsx")
        )
        if not parts:
            raise ValueError(f"no .xlsx files in landing dir {path!r}")
        dfs = [_read_excel(spark, p) for p in parts]
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df)
        return out
    try:
        import openpyxl  # noqa: F401
        import pandas as pd

        pdf = pd.read_excel(path)
        return spark.createDataFrame(pdf)
    except ImportError:
        pass
    from ..config.xlsx import read_xlsx

    header, rows = read_xlsx(path)
    if not header:
        raise ValueError(f"empty xlsx sheet at {path!r}")
    fields = []
    for idx, name in enumerate(header):
        col = [r[idx] for r in rows if r[idx] is not None]
        if col and all(isinstance(v, bool) for v in col):
            dt: T.DataType = T.BooleanType()
        elif col and all(
            isinstance(v, int) and not isinstance(v, bool) for v in col
        ):
            dt = T.LongType()
        elif col and all(
            isinstance(v, (int, float)) and not isinstance(v, bool)
            for v in col
        ):
            dt = T.DoubleType()
        else:
            dt = T.StringType()
        fields.append(T.StructField(name or f"_c{idx}", dt))
    schema = T.StructType(fields)
    cast_rows = []
    for r in rows:
        rec = []
        for f, v in zip(fields, r):
            if v is None:
                rec.append(None)
            elif isinstance(f.dataType, T.StringType):
                rec.append(str(v))
            elif isinstance(f.dataType, T.DoubleType):
                rec.append(float(v))
            else:
                rec.append(v)
        cast_rows.append(rec)
    return driver_frame(spark, cast_rows, schema)
