"""Group-filtered ingestion runner — ``start_ingestion.py`` parity.

Reads the control table, filters to active rows (optionally by DAG group,
reference start_ingestion.py:221-229), builds one IncrementalIngestJob per
row, runs them with bounded inter-table parallelism (the reference's
ThreadPool(cpu_count()), start_ingestion.py:456-465 — here driver threads
submitting concurrent Spark jobs), and registers latest-row views for
successful view_needed tables.

Catalog note: the reference's post-load Glue-crawler + Athena round-trip
(K6/S8) disappears — the engine IS the query layer; `saveAsTable`-style
registration happens via `register_latest_view` into the session catalog
(or an external metastore when configured).

Source resolution is pluggable: production uses the JDBC incremental
source; tests and file-landing zones use parquet directories. By
convention, for ``ingestion_type='parquet-table'`` the control row's
``servername`` holds the source directory.

CLI:
    spark-submit -m datalakeingestion_spark.runner \
        --control /path/control.csv --state /path/execution_log \
        --groups dag_lendingstream
"""

from __future__ import annotations

import argparse
from collections.abc import Callable, Mapping, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from .sources.fetch import Fetcher

from pyspark.sql import DataFrame, Row, SparkSession

from .config.control import filter_control, load_control
from .config.partition_spec import parse_partition_config
from .ingest.pipeline import IncrementalIngestJob, IngestResult
from .ingest.schema_registry import SchemaRegistry
from .ingest.views import register_latest_view
from .ingest.watermark import (
    STATUS_EXTRACTION_FAILURE,
    STATUS_FAILED,
    STATUS_NO_DATA,
    STATUS_SKIPPED,
    STATUS_SUCCESS,
    STATUS_VALIDATION_FAILURE,
    ExecutionLog,
)

# any of these in a stage means downstream stages must not run: the
# upstream table is missing (failed / extraction) or was rolled back
# (validation failure) — all_success semantics, not merely not-crashed
_STAGE_FAILURE_STATUSES = frozenset(
    {STATUS_FAILED, STATUS_EXTRACTION_FAILURE, STATUS_VALIDATION_FAILURE}
)

SourceResolver = Callable[[SparkSession, Row], DataFrame]


def parquet_source_resolver(spark: SparkSession, row: Row) -> DataFrame:
    """servername = source parquet directory."""
    return spark.read.parquet(row["servername"])


def default_source_resolver(spark: SparkSession, row: Row) -> DataFrame:
    """Dispatch on the control row's ingestion_type (reference
    start_ingestion.py:37-55 dispatches 'mysql-table' vs 'xlsx-file'):

    - 'mysql-table' → JDBC incremental source (servername = host[:port])
    - 'parquet-table' / 'csv-file' / 'json-file' → landing-zone directory
      in servername (the reference's post-download file path, S9)
    """
    itype = (row["ingestion_type"] or "").lower()
    if itype == "mysql-table":
        from .sources.jdbc import JdbcIncrementalSource

        src = JdbcIncrementalSource(
            url=f"jdbc:mysql://{row['servername']}/{row['databasename']}",
            table=f"{row['databasename']}.{row['tablename']}",
            delta_field=row["delta_field"],
        )
        # full-relation load; the pipeline applies the watermark predicate
        # (pushed to MySQL by Catalyst through the JDBC relation)
        return (
            spark.read.format("jdbc")
            .option("url", src.url)
            .option("dbtable", src.table)
            .option("fetchsize", str(src.fetchsize))
            .load()
        )
    if itype == "parquet-table":
        return spark.read.parquet(row["servername"])
    if itype in ("csv-file", "json-file", "orc-file", "avro-file", "xlsx-file"):
        from .sources.files import read_landing

        return read_landing(spark, row["servername"], itype.split("-")[0])
    raise ValueError(f"unsupported ingestion_type {row['ingestion_type']!r}")


def make_fetching_resolver(
    fetchers: dict[int, "Fetcher"],
    base: SourceResolver = default_source_resolver,
) -> SourceResolver:
    """Prepend the ACQUISITION half of S9 to source resolution: before
    reading a table's landing directory, run its
    :class:`~datalakeingestion_spark.sources.fetch.Fetcher` (mailbox
    attachment extraction / report-link download — reference
    extractors/ingest_files.py:69-151) against that directory. Keyed by
    ``lake_ingestion_id``; tables without a fetcher resolve unchanged,
    so JDBC and pre-landed rows mix freely in one run. The landing
    directory is the control row's ``servername`` — same convention as
    the file ingestion types above."""

    def resolver(spark: SparkSession, row: Row) -> DataFrame:
        fetcher = fetchers.get(row["lake_ingestion_id"])
        if fetcher is not None:
            fetcher.fetch(row["servername"])
        return base(spark, row)

    return resolver


@dataclass
class RunReport:
    results: dict[int, IngestResult]

    @property
    def succeeded(self) -> list[int]:
        return [k for k, v in self.results.items() if v.status == STATUS_SUCCESS]


def run_groups(
    spark: SparkSession,
    control: DataFrame,
    state_path: str,
    groups: Sequence[str] | None = None,
    source_resolver: SourceResolver = parquet_source_resolver,
    max_parallel_tables: int = 4,
    register_views: bool = True,
    schema_registry_path: str | None = None,
    task_orders: "Mapping[str, int] | None" = None,
) -> RunReport:
    rows = filter_control(control, groups).collect()
    log = ExecutionLog(spark, state_path)
    registry = (
        SchemaRegistry(spark, schema_registry_path)
        if schema_registry_path
        else None
    )

    def run_one(row: Row) -> tuple[int, IngestResult]:
        ingestion_id = row["lake_ingestion_id"]
        try:
            job = IncrementalIngestJob(
                spark=spark,
                ingestion_id=ingestion_id,
                source=source_resolver(spark, row),
                delta_field=row["delta_field"],
                integer_watermark=bool(row["date_not_available"]),
                delta_expr_cols=_expr_cols(row["delta_field_expr"]),
                target_location=row["target_location"],
                log=log,
                partition_spec=parse_partition_config(row["partition_config"]),
                schema_registry=registry,
            )
            return ingestion_id, job.run()
        except Exception as exc:  # extraction failure → logged, not fatal
            log.append(ingestion_id, STATUS_FAILED, reason_code=str(exc)[:500])
            return ingestion_id, IngestResult(STATUS_FAILED, "")

    # inter-table parallelism: concurrent Spark jobs from driver threads.
    # task_order barriers (reference dag/dag_lif.py:41-61: each sorted
    # order's task list fans out in parallel, then an end_N barrier
    # gates the next order): rows sharing an order value run
    # concurrently; the next stage starts only after the stage
    # completes. On a stage failure the remaining stages are SKIPPED
    # (Airflow's all_success trigger rule — downstream staging tables
    # must not build on a missing upstream), each skipped row logged.
    if task_orders is None:
        stages = [rows]
    else:
        by_order: dict[int, list[Row]] = {}
        for row in rows:
            by_order.setdefault(
                int(task_orders.get(row["tablename"], 0)), []
            ).append(row)
        stages = [by_order[k] for k in sorted(by_order)]

    results = {}
    failed_stage = False
    for stage_rows in stages:
        if failed_stage:
            for row in stage_rows:
                rid = row["lake_ingestion_id"]
                log.append(
                    rid,
                    STATUS_SKIPPED,
                    reason_code="upstream task_order stage failed",
                )
                results[rid] = IngestResult(STATUS_SKIPPED, "")
            continue
        with ThreadPoolExecutor(max_workers=max_parallel_tables) as pool:
            stage_results = dict(pool.map(run_one, stage_rows))
        results.update(stage_results)
        if any(
            r.status in _STAGE_FAILURE_STATUSES
            for r in stage_results.values()
        ):
            failed_stage = True

    if register_views:
        for row in rows:
            rid = row["lake_ingestion_id"]
            if (
                row["view_needed"]
                and row["primary_key"]
                and results[rid].status == STATUS_SUCCESS
            ):
                register_latest_view(
                    spark,
                    row["athena_view_name"],
                    row["target_location"],
                    row["primary_key"].split(","),
                    row["delta_field"],
                )
    return RunReport(results)


def _expr_cols(expr: str | None) -> tuple[str, ...]:
    """Parse 'coalesce(a, b)' into ('a', 'b') (reference delta_field_expr)."""
    if not expr:
        return ()
    inner = expr.strip()
    if not inner.lower().startswith("coalesce("):
        raise ValueError(f"unsupported delta_field_expr: {expr!r}")
    inner = inner[len("coalesce(") : inner.rindex(")")]
    return tuple(c.strip() for c in inner.split(","))


def main(argv: Sequence[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="incremental lake ingestion run")
    parser.add_argument("--control", required=True, help="control table CSV path")
    parser.add_argument("--state", required=True, help="execution-log table path")
    parser.add_argument(
        "--groups", default=None, help="comma-separated airflow_dag_group filter"
    )
    args = parser.parse_args(argv)

    from .session import get_spark

    spark = get_spark(app_name="dli-runner")
    control = load_control(spark, args.control)
    groups = args.groups.split(",") if args.groups else None
    report = run_groups(spark, control, args.state, groups)
    for rid, res in sorted(report.results.items()):
        print(f"[{rid}] {res.status} rows={res.source_count}")
    return 0 if all(
        r.status in (STATUS_SUCCESS, STATUS_NO_DATA)
        for r in report.results.values()
    ) else 1


if __name__ == "__main__":
    raise SystemExit(main())
