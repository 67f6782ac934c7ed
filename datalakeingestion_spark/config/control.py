"""Control table — the framework's ingestion catalog.

The reference drives everything from a 21-column Excel sheet on S3
(update_config.py:34-41; loaded + filtered at start_ingestion.py:206-240 /
utils/common_utils.py:21-60). Here the control table is plain data — CSV,
parquet, or the reference's native xlsx (config/xlsx.py, stdlib-only) read
into a (tiny, driver-side) Spark DataFrame with an explicit schema;
filtering is ordinary Catalyst predicates instead of pandas ``df.query``
strings.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..utils import driver_frame

# 21 columns, names per the reference (update_config.py:34-41).
CONTROL_SCHEMA = T.StructType(
    [
        T.StructField("lake_ingestion_id", T.IntegerType()),
        T.StructField("ingestion_type", T.StringType()),  # 'mysql-table'|'xlsx-file'
        T.StructField("servername", T.StringType()),
        T.StructField("databasename", T.StringType()),
        T.StructField("tablename", T.StringType()),
        T.StructField("delta_field", T.StringType()),
        T.StructField("delta_field_expr", T.StringType()),
        T.StructField("date_not_available", T.IntegerType()),  # 0=ts wm, 1=int wm
        T.StructField("active_indicator", T.IntegerType()),
        T.StructField("invalidated_by", T.StringType()),
        T.StructField("crawler_name", T.StringType()),
        T.StructField("glue_db_name", T.StringType()),
        T.StructField("target_type", T.StringType()),
        T.StructField("target_location", T.StringType()),
        T.StructField("primary_key", T.StringType()),  # comma-joined
        T.StructField("athena_view_db", T.StringType()),
        T.StructField("athena_view_name", T.StringType()),
        T.StructField("view_needed", T.IntegerType()),
        T.StructField("partition_config", T.StringType()),
        T.StructField("airflow_dag_group", T.StringType()),
        T.StructField("update_datetime", T.StringType()),
    ]
)


def load_control(spark: SparkSession, path: str, fmt: str = "csv") -> DataFrame:
    if fmt == "csv":
        return spark.read.schema(CONTROL_SCHEMA).option("header", True).csv(path)
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt in ("xlsx", "excel"):
        # the reference's native control format (pd.read_excel at
        # utils/aws_utils.py:290-292) — read driver-side with the
        # stdlib-only SpreadsheetML codec (sheets are tiny), then cast
        # string cells through the explicit schema like the CSV path
        from .xlsx import read_xlsx

        header, rows = read_xlsx(path)
        want = [f.name for f in CONTROL_SCHEMA.fields]
        if header != want:
            raise ValueError(
                f"control sheet columns {header!r} != expected {want!r}"
            )
        as_str = T.StructType(
            [T.StructField(n, T.StringType()) for n in want]
        )
        raw = driver_frame(
            spark,
            [[None if v is None else str(v) for v in r] for r in rows],
            as_str,
        )
        # Integer fields go string→double→int: a producer storing 7 as
        # "7.0" would otherwise cast to NULL (or, under ANSI, throw a
        # raw SparkNumberFormatException). try_cast turns genuinely bad
        # cells into NULLs that the audit below converts into one clean
        # ValueError naming the columns.
        def cast_expr(f: T.StructField):
            if isinstance(f.dataType, (T.IntegerType, T.LongType)):
                return (
                    F.col(f.name).try_cast("double").try_cast(f.dataType)
                ).alias(f.name)
            return F.col(f.name).try_cast(f.dataType).alias(f.name)

        both = raw.select(
            *[cast_expr(f) for f in CONTROL_SCHEMA.fields],
            *[F.col(n).alias("_raw_" + n) for n in want],
        )
        # Any cast that turned a present cell into NULL is a corrupt
        # sheet — fail loudly like the header mismatch above (the
        # control table is tiny, so the audit pass is driver-cheap).
        # Integer fields additionally fail on FRACTIONAL cells: the
        # double→int cast truncates "7.5" to 7, which would fabricate an
        # ingestion id instead of flagging the corruption.
        def bad_cell(f: T.StructField):
            n = f.name
            present = F.col("_raw_" + n).isNotNull() & (
                F.trim("_raw_" + n) != ""
            )
            nulled = F.col(n).isNull()
            if isinstance(f.dataType, (T.IntegerType, T.LongType)):
                truncated = (
                    F.col("_raw_" + n).try_cast("double")
                    != F.col(n).cast("double")
                )
                return present & (nulled | truncated)
            return present & nulled

        audit = both.select(
            *[
                F.sum(bad_cell(f).cast("int")).alias(f.name)
                for f in CONTROL_SCHEMA.fields
            ]
        ).first()
        bad = {n: audit[n] for n in want if (audit[n] or 0) > 0}
        if bad:
            raise ValueError(
                f"control sheet cells failed schema cast (col: n_rows): {bad}"
            )
        return both.select(*want)
    raise ValueError(f"unsupported control format {fmt!r}")


def filter_control(control: DataFrame, groups: Sequence[str] | None = None) -> DataFrame:
    """Active rows, optionally restricted to DAG groups.

    Reference predicate: ``active_indicator == 1 and (airflow_dag_group ==
    g1 or ...)`` (start_ingestion.py:221-229).
    """
    out = control.filter(F.col("active_indicator") == 1)
    if groups:
        out = out.filter(F.col("airflow_dag_group").isin(list(groups)))
    return out


def save_control(control: DataFrame, path: str, fmt: str = "csv") -> None:
    """Persist the (tiny) control table. ``fmt="csv"`` (default) keeps
    the config plainly diffable; ``fmt="xlsx"`` mirrors the reference's
    write-back of a new Excel to S3 (K3, update_config.py:322-326 via
    utils/aws_utils.py:246-259) with the stdlib SpreadsheetML writer —
    deterministic bytes, inline strings, re-castable on load."""
    pdf = control.toPandas()
    if fmt == "csv":
        pdf.to_csv(path, index=False)
        return
    if fmt in ("xlsx", "excel"):
        from .xlsx import write_xlsx

        def norm(v):
            if v is None or v != v:  # None or NaN
                return None
            return v.item() if hasattr(v, "item") else v  # numpy -> python

        rows = [
            [norm(v) for v in rec] for rec in pdf.itertuples(index=False)
        ]
        write_xlsx(path, list(pdf.columns), rows)
        return
    raise ValueError(f"unsupported control format {fmt!r}")


def next_ingestion_id(control: DataFrame) -> int:
    """max(lake_ingestion_id)+1 (reference: update_config.py:121-125)."""
    row = control.agg(F.max("lake_ingestion_id").alias("m")).first()
    return int(row["m"] or 0) + 1
