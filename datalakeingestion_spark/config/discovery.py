"""Control-config autodiscovery — the reference's ``update_config.py``
re-expressed over DataFrames.

Input is an ``information_schema.columns``-shaped DataFrame (from a JDBC
read of the source database, or synthetic in tests) with columns:
``table_name, column_name, data_type, column_key, extra``.

Derivation rules (reference citations):
- delta field precedence: created_datetime > modified_datetime >
  auto-increment pk (update_config.py:143-151);
- delta_field_expr = 'coalesce(modified_datetime, created_datetime)' when
  both exist (update_config.py:153-158);
- date_not_available = 1 for integer (auto-inc) watermarks
  (update_config.py:127-130);
- primary_key = comma-joined PRI columns (update_config.py:160-174);
- partition policy: time-based YYYYMM on the delta datetime, else 1M
  buckets on the auto-inc column (update_config.py:176-222);
- tables already configured are excluded via anti-join — the reference's
  list-comprehension NOT-IN (update_config.py:80-83, operator F7);
- new ids continue from max(lake_ingestion_id)+1 (update_config.py:121-125).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..utils import driver_frame
from .control import CONTROL_SCHEMA, next_ingestion_id

_DATETIME_TYPES = ("datetime", "timestamp", "date")


def discover_tables(
    spark: SparkSession,
    info_columns: DataFrame,
    existing_control: DataFrame,
    databasename: str,
    servername: str = "local",
    lake_root: str = "/lake",
    dag_group: str | None = None,
) -> DataFrame:
    """New control rows for tables not yet configured."""
    new_tables = (
        info_columns.select("table_name")
        .distinct()
        .join(
            existing_control.filter(F.col("databasename") == databasename)
            .select(F.col("tablename").alias("table_name"))
            .distinct(),
            "table_name",
            "left_anti",
        )
    )
    cols = info_columns.join(F.broadcast(new_tables), "table_name")

    per_table = cols.groupBy("table_name").agg(
        F.max(F.when(F.col("column_name") == "created_datetime", 1).otherwise(0)).alias("has_created"),
        F.max(F.when(F.col("column_name") == "modified_datetime", 1).otherwise(0)).alias("has_modified"),
        F.max(
            F.when(F.col("extra") == "auto_increment", F.col("column_name"))
        ).alias("auto_inc_col"),
        F.concat_ws(
            ",",
            F.array_sort(
                F.collect_list(
                    F.when(F.col("column_key") == "PRI", F.col("column_name"))
                )
            ),
        ).alias("primary_key"),
    )

    rows = []
    start_id = next_ingestion_id(existing_control)
    now = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    for i, r in enumerate(sorted(per_table.collect(), key=lambda x: x["table_name"])):
        # delta-field precedence (update_config.py:143-151)
        if r["has_created"]:
            delta, int_wm = "created_datetime", False
        elif r["has_modified"]:
            delta, int_wm = "modified_datetime", False
        elif r["auto_inc_col"]:
            delta, int_wm = r["auto_inc_col"], True
        else:
            # no watermark candidate → inactive row, operator must fill in
            delta, int_wm = "", False
        expr = (
            "coalesce(modified_datetime, created_datetime)"
            if r["has_created"] and r["has_modified"]
            else ""
        )
        if delta and not int_wm:
            partition = (
                "({'partition_seq_no': 1, 'partition_column_type': 'time-based', "
                f"'partition_column': '{delta}', 'partition_format': 'YYYYMMDD'}},)"
            )
        elif delta:
            partition = (
                "({'partition_seq_no': 1, 'partition_column_type': 'non-time-based', "
                f"'partition_column': '{delta}', 'partition_format': '1M'}},)"
            )
        else:
            partition = "()"
        rows.append(
            (
                start_id + i,
                "mysql-table",
                servername,
                databasename,
                r["table_name"],
                delta,
                expr,
                1 if int_wm else 0,
                1 if delta else 0,  # active only with a usable watermark
                "NULL",
                f"datalake_{databasename}",
                f"dl_{databasename}",
                "s3",
                f"{lake_root}/{databasename}/{r['table_name']}",
                r["primary_key"],
                f"dl_{databasename}_lv",
                f"{r['table_name']}_lv",
                1 if r["primary_key"] else 0,
                partition,
                dag_group or f"dag_{databasename}",
                now,
            )
        )
    return driver_frame(spark, rows, CONTROL_SCHEMA)


def merge_control(existing: DataFrame, discovered: DataFrame) -> DataFrame:
    """Union + id sort (reference update_config.py:317-320, operators U1/O1)."""
    return existing.unionByName(discovered).orderBy("lake_ingestion_id")
