"""MERGE-style upsert for parquet lakes (SCD1 / latest-wins).

The reference handles updates by appending duplicate versions and
deduplicating at READ time with the latest-row view (T6,
start_ingestion.py:361-374); SURVEY.md flags ``MERGE INTO`` as the
improved path. Without Delta in this environment, the same semantic is an
atomic-ish rewrite:

    merged = updates ∪ (target ⟕anti updates on pk)   # latest wins
    write to staging dir → swap directories

On Delta/Iceberg this function becomes a genuine ``MERGE INTO`` with
file-level pruning; the anti-join+union form here is the dependency-free
fallback, and is itself the standard strategy for partition-level
rewrites (only partitions containing updated keys need rewriting when a
partition spec is provided).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config.partition_spec import PartitionSpec


def _write_counted(writer_frame: DataFrame, configure, staging: str) -> int:
    """Write ``writer_frame`` to ``staging`` and return its row count from
    an :class:`Observation` on the SAME pass — the former
    ``spark.read.parquet(staging).count()`` re-scan paid a whole extra
    job (and a full read of the files just written) per merge, purely to
    report a number the write stream already knew. ``configure`` maps the
    observed frame's ``.write`` builder to the final writer (mode/
    compression/partitioning).

    Deliberate trade (r13): the count no longer proves the staged files
    read back — only that the rows streamed through the committer (which
    still fails loudly on write errors). Used ONLY where the swap target
    is a DERIVED materialization rebuildable from the lake (latest zone,
    rollup); the primary-data swaps (``merge_upsert``,
    ``maintenance.compact``) keep the full read-back gate."""
    obs = Observation()
    observed = writer_frame.observe(obs, F.count(F.lit(1)).alias("n"))
    configure(observed.write).parquet(staging)
    return int(obs.get["n"])


def _fs(spark: SparkSession, p: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(p)
    return jvm, path.getFileSystem(conf), path


def _walk(fs, root, skip_hidden: bool = False) -> list:
    """``FileStatus`` of every file under the Hadoop path ``root``: one
    ``listStatus`` per directory. A recursive ``FileSystem.listFiles``
    gives the same files but builds a ``LocatedFileStatus`` (block
    locations included) per file, about ten times the cost on a staged
    batch. ``skip_hidden`` prunes ``.``/``_``-prefixed files and
    directories, the names Spark's file index ignores."""
    out, dirs = [], [root]
    while dirs:
        for st in fs.listStatus(dirs.pop()):
            if skip_hidden and st.getPath().getName().startswith((".", "_")):
                continue
            if st.isDirectory():
                dirs.append(st.getPath())
            else:
                out.append(st)
    return out


def _backup_path(jvm, final_path: str):
    return jvm.org.apache.hadoop.fs.Path(final_path.rstrip("/") + ".__old__")


def _recover_swap(spark: SparkSession, final_path: str) -> None:
    """Heal a crashed directory swap BEFORE reading the materialization.

    A crash between ``rename(live -> backup)`` and ``rename(staging ->
    live)`` leaves no live dir and the ONLY copy of the data in the
    backup. Without this restore, the next merge would silently rebuild
    from its batch alone and then delete the backup — discarding every
    previously materialized key."""
    jvm, fs, path = _fs(spark, final_path)
    backup = _backup_path(jvm, final_path)
    if not fs.exists(path) and fs.exists(backup):
        fs.rename(backup, path)


def _publish_swap(spark: SparkSession, staging: str, final_path: str) -> None:
    """live -> backup -> publish staging -> drop backup (each step
    idempotent under retry; the crash window is healed by _recover_swap)."""
    jvm, fs, path = _fs(spark, final_path)
    backup = _backup_path(jvm, final_path)
    if fs.exists(backup):
        fs.delete(backup, True)
    if fs.exists(path):
        fs.rename(path, backup)
    fs.rename(jvm.org.apache.hadoop.fs.Path(staging), path)
    if fs.exists(backup):
        fs.delete(backup, True)


def merge_latest(
    spark: SparkSession,
    latest_path: str,
    batch: DataFrame,
    primary_key: list[str],
    order_col: str,
    tie_breaks: list[str] | None = None,
) -> int:
    """Incrementally maintain a materialized latest-row table.

    The reference recomputes its "latest data zone" view over the WHOLE
    table at read time (and it times out there, README.md:34-35). This
    maintains the materialization at O(|latest| + |batch|) per ingest
    batch: reduce the batch to per-key winners, union with the current
    materialization, keep each key's winner, swap. With Delta this becomes
    ``MERGE INTO ... WHEN MATCHED AND s.{order} > t.{order}``.
    """
    from ..operators.relational import latest_rows

    _recover_swap(spark, latest_path)
    _, fs, path = _fs(spark, latest_path)

    batch_winners = latest_rows(batch, primary_key, order_col, tie_breaks or [])
    if fs.exists(path):
        current = spark.read.parquet(latest_path)
        merged = latest_rows(
            current.unionByName(batch_winners),
            primary_key,
            order_col,
            tie_breaks or [],
        )
    else:
        merged = batch_winners

    staging = latest_path.rstrip("/") + ".__staging__"
    n = _write_counted(
        merged,
        lambda w: w.mode("overwrite").option("compression", "snappy"),
        staging,
    )
    _publish_swap(spark, staging, latest_path)
    return n


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    primary_key: list[str],
    partition_spec: PartitionSpec | None = None,
) -> int:
    """Upsert ``updates`` into the parquet lake at ``target_path`` by
    primary key (updates win). Returns the merged row count.

    First call on an empty target is equivalent to a plain write.
    """
    _recover_swap(spark, target_path)
    _, fs, path = _fs(spark, target_path)

    if partition_spec is not None:
        updates = partition_spec.derive(updates)

    if fs.exists(path):
        target = spark.read.parquet(target_path)
        keep = target.join(updates, primary_key, "left_anti")
        merged = keep.unionByName(updates)
    else:
        merged = updates

    staging = target_path.rstrip("/") + ".__staging__"
    writer = merged.write.mode("overwrite").option("compression", "snappy")
    if partition_spec is not None:
        writer = writer.partitionBy(partition_spec.partition_column_name)
    writer.parquet(staging)
    # the upsert target is PRIMARY data and the swap deletes the old copy:
    # keep the read-back gate (see _write_counted's trade note)
    n = spark.read.parquet(staging).count()

    # swap: best-effort atomicity on a single filesystem (rename is atomic
    # on HDFS/local; on S3 use Delta instead — see module docstring)
    _publish_swap(spark, staging, target_path)
    return n


def merge_rollup(
    spark: SparkSession,
    rollup_path: str,
    batch: DataFrame,
    group_cols: list[str],
    sum_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
) -> int:
    """Incrementally maintain a materialized GROUPED aggregate (rollup).

    Algebraic aggregates (count / sum / min / max) combine associatively,
    so the materialization never re-reads the fact table: reduce the new
    batch to per-group partials, union with the stored partials, combine,
    swap — O(|groups| + |batch|) per ingest batch regardless of lake size.
    This is the incremental-view-maintenance pattern a 100 TB lake needs
    for its hot dashboards (a full groupBy over the lake per refresh is
    the anti-pattern). avg derives as sum/n at read time; non-algebraic
    aggregates (exact distinct, medians) need their own structures
    (see sketch_kmv_distinct for the mergeable-sketch route).

    Stored schema: group_cols + n + sum_<c> + min_<c> + max_<c>.
    Returns the number of groups in the new materialization.
    """
    sum_cols = list(sum_cols or [])
    min_cols = list(min_cols or [])
    max_cols = list(max_cols or [])

    def partials(df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("n")]
        aggs += [F.sum(c).alias(f"sum_{c}") for c in sum_cols]
        aggs += [F.min(c).alias(f"min_{c}") for c in min_cols]
        aggs += [F.max(c).alias(f"max_{c}") for c in max_cols]
        return df.groupBy(*group_cols).agg(*aggs)

    def combine(df: DataFrame) -> DataFrame:
        aggs = [F.sum("n").alias("n")]
        aggs += [F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols]
        aggs += [F.min(f"min_{c}").alias(f"min_{c}") for c in min_cols]
        aggs += [F.max(f"max_{c}").alias(f"max_{c}") for c in max_cols]
        return df.groupBy(*group_cols).agg(*aggs)

    _recover_swap(spark, rollup_path)
    _, fs, path = _fs(spark, rollup_path)

    new = partials(batch)
    if fs.exists(path):
        current = spark.read.parquet(rollup_path)
        merged = combine(current.unionByName(new))
    else:
        merged = combine(new)  # idempotent: combine of partials is partials

    staging = rollup_path.rstrip("/") + ".__staging__"
    n = _write_counted(
        merged,
        lambda w: w.mode("overwrite").option("compression", "snappy"),
        staging,
    )
    _publish_swap(spark, staging, rollup_path)
    return n
