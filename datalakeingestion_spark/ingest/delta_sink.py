"""Package-gated Delta Lake sink — the production ACID path.

The repo re-derives atomic-append semantics on plain parquet (staged
commit + execution-log rollback, ``ingest/pipeline.py``; log-based time
travel, ``ingest/timetravel.py``; directory-swap MERGE, ``ingest/
merge.py``) because this container ships no ``delta-spark``. On a real
cluster those re-derivations are exactly what Delta's transaction log
provides natively — at 100 TB you want Delta's optimistic-concurrency
commit protocol, file-level conflict detection, and
compaction-surviving time travel rather than a hand-maintained file
list. So, same seam pattern as the PIL/PyAV codec gate
(``operators/multimodal.py``): when ``delta-spark`` is importable every
function here delegates to the Delta API; when it is not, callers get a
loud ``NotImplementedError`` naming the package, and the parquet+log
path remains the tested fallback.

Mapping (fallback → Delta):

================================  =====================================
parquet + staged-commit append     ``df.write.format("delta")`` (atomic)
log-list rollback on validation    ``RESTORE TABLE ... VERSION AS OF``
timetravel.history                 ``DeltaTable.history()``
timetravel.read_version/read_as_of ``versionAsOf`` / ``timestampAsOf``
timetravel.read_changes            change data feed (``readChangeFeed``)
merge.merge_latest                 ``MERGE INTO`` (file-pruned upsert)
maintenance.vacuum                 ``DeltaTable.vacuum(retention_hours)``
maintenance.compact                ``OPTIMIZE`` (+ ``ZORDER BY``)
================================  =====================================

The MERGE/RESTORE statement builders are pure string functions so their
codegen is unit-testable without the package (tests/test_delta_sink.py),
mirroring how the JDBC pushdown text is tested without MySQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: builder confs a cluster session needs for Delta (documented here, used
#: by deployments that construct their own session; session.get_spark
#: applies them automatically when the package is importable)
DELTA_SESSION_CONFS: dict[str, str] = {
    "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
    "spark.sql.catalog.spark_catalog": (
        "org.apache.spark.sql.delta.catalog.DeltaCatalog"
    ),
    # read_changes_delta and the pipeline's Delta latest-zone step consume
    # the change data feed, which Delta only records when the table
    # property is set — default it on for every table this session
    # creates so CDF reads never hit "table does not have change data
    # feed enabled". The writers below ALSO set the property per-table
    # (belt and braces for sessions built without these confs).
    "spark.databricks.delta.properties.defaults.enableChangeDataFeed": (
        "true"
    ),
}


def delta_available() -> bool:
    """True iff the ``delta-spark`` package is importable."""
    try:
        import delta  # noqa: F401
    except ImportError:
        return False
    return True


def is_delta_table(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` holds a Delta table AND the package is
    importable — the auto-delegation predicate used by the fallback
    modules (timetravel/maintenance): False in a package-less
    environment, so the parquet+log path stays the tested default."""
    if not delta_available():
        return False
    from delta.tables import DeltaTable

    return DeltaTable.isDeltaTable(spark, path)


def require_delta(feature: str) -> None:
    if not delta_available():
        raise NotImplementedError(
            f"{feature} requires the delta-spark package (pip install "
            "delta-spark, plus the matching io.delta:delta-spark jars on "
            "the cluster); in this environment use the parquet+log "
            "fallback (staged commit / ingest.timetravel / ingest.merge)"
        )


# ---------------------------------------------------------------------------
# pure statement builders (unit-testable without the package)
# ---------------------------------------------------------------------------


def merge_latest_condition(primary_key: list[str]) -> str:
    """ON clause of the latest-row MERGE: target and source agree on
    every primary-key column."""
    if not primary_key:
        raise ValueError("merge requires a non-empty primary key")
    return " AND ".join(f"t.{c} <=> s.{c}" for c in primary_key)


def merge_latest_update_condition(
    order_col: str, tie_breaks: list[str] | None = None
) -> str:
    """WHEN MATCHED condition: the source row wins iff it is strictly
    newer on (order_col, *tie_breaks) lexicographically — the same
    winner rule as the parquet fallback (ingest/merge.py::merge_latest),
    expanded into SQL because MERGE has no struct comparison."""
    cols = [order_col, *(tie_breaks or [])]
    clauses = []
    for i, c in enumerate(cols):
        eqs = [f"s.{k} <=> t.{k}" for k in cols[:i]]
        clauses.append(" AND ".join([*eqs, f"s.{c} > t.{c}"]))
    return "(" + ") OR (".join(clauses) + ")"


def restore_statement(path: str, version: int) -> str:
    """RESTORE the table at ``path`` to ``version`` — the Delta analog of
    the fallback's validation-failure file rollback."""
    return f"RESTORE TABLE delta.`{path}` TO VERSION AS OF {int(version)}"


def optimize_statement(path: str, zorder_cols: list[str] | None = None) -> str:
    """OPTIMIZE (small-file compaction), optionally Z-ordered — the Delta
    analog of maintenance.compact + operators/layout z-order clustering."""
    stmt = f"OPTIMIZE delta.`{path}`"
    if zorder_cols:
        stmt += " ZORDER BY (" + ", ".join(zorder_cols) + ")"
    return stmt


# ---------------------------------------------------------------------------
# gated delegations (thin: all logic lives in the Delta engine)
# ---------------------------------------------------------------------------


def append_delta(
    df: DataFrame, path: str, partition_col: str | None = None
) -> None:
    """Atomic append — replaces the whole staged-commit dance (staging
    dir, file-list LOADED row, move, orphan cleanup): Delta's commit
    either fully lands or is invisible."""
    require_delta("append_delta")
    # table property (set on create, harmless on append): the CDF is what
    # read_changes_delta and the latest-zone MERGE maintenance read — a
    # table written without it makes every CDF read raise. NOTE: whether
    # a delta.*-prefixed WRITER option becomes a table property at
    # creation is Delta-version-dependent and unverifiable in this
    # container (no delta-spark); the session default in
    # DELTA_SESSION_CONFS is the reliable mechanism — sessions built
    # without those confs must verify CDF is actually on.
    writer = (
        df.write.format("delta")
        .mode("append")
        .option("delta.enableChangeDataFeed", "true")
    )
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    writer.save(path)


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of: str | None = None,
) -> DataFrame:
    require_delta("read_delta")
    reader = spark.read.format("delta")
    if version is not None:
        reader = reader.option("versionAsOf", version)
    if as_of is not None:
        reader = reader.option("timestampAsOf", as_of)
    return reader.load(path)


def read_changes_delta(
    spark: SparkSession, path: str, since_version: int
) -> DataFrame:
    """Change data feed — the Delta analog of timetravel.read_changes
    (and strictly stronger: it also carries update/delete rows from
    MERGE, which the append-only fallback cannot)."""
    require_delta("read_changes_delta")
    return (
        spark.read.format("delta")
        .option("readChangeFeed", "true")
        .option("startingVersion", since_version + 1)
        .load(path)
    )


def table_version(spark: SparkSession, path: str) -> int | None:
    """Latest commit version, or None when no Delta table exists yet."""
    require_delta("table_version")
    from delta.tables import DeltaTable

    if not DeltaTable.isDeltaTable(spark, path):
        return None
    row = (
        DeltaTable.forPath(spark, path)
        .history(1)
        .select("version")
        .first()
    )
    return None if row is None else int(row["version"])


def restore_version(spark: SparkSession, path: str, version: int) -> None:
    require_delta("restore_version")
    spark.sql(restore_statement(path, version))


def history_delta(spark: SparkSession, path: str) -> DataFrame:
    require_delta("history_delta")
    from delta.tables import DeltaTable

    return DeltaTable.forPath(spark, path).history()


def vacuum_delta(
    spark: SparkSession, path: str, retention_hours: float = 168.0
) -> None:
    require_delta("vacuum_delta")
    from delta.tables import DeltaTable

    DeltaTable.forPath(spark, path).vacuum(retention_hours)


def optimize_delta(
    spark: SparkSession, path: str, zorder_cols: list[str] | None = None
) -> None:
    require_delta("optimize_delta")
    spark.sql(optimize_statement(path, zorder_cols))


def merge_latest_delta(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    primary_key: list[str],
    order_col: str,
    tie_breaks: list[str] | None = None,
) -> None:
    """Latest-row upsert as a genuine ``MERGE INTO`` — file-pruned by
    Delta (only data files containing matched keys rewrite), vs the
    fallback's whole-directory swap. The batch is pre-reduced to one
    winner per key exactly like the fallback so MERGE never sees two
    source rows for one target row (which Delta rejects)."""
    require_delta("merge_latest_delta")
    from delta.tables import DeltaTable

    from ..operators.relational import latest_rows

    winners = latest_rows(batch, primary_key, order_col, tie_breaks or [])
    if not DeltaTable.isDeltaTable(spark, path):
        (
            winners.write.format("delta")
            .option("delta.enableChangeDataFeed", "true")
            .save(path)
        )
        return
    (
        DeltaTable.forPath(spark, path)
        .alias("t")
        .merge(winners.alias("s"), merge_latest_condition(primary_key))
        .whenMatchedUpdateAll(
            condition=merge_latest_update_condition(order_col, tie_breaks)
        )
        .whenNotMatchedInsertAll()
        .execute()
    )
