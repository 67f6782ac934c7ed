"""Lake maintenance — small-file compaction.

Incremental ingestion appends a few files per run; after thousands of
runs a partition holds thousands of tiny parquet files and every scan
pays open/footer costs per file (the classic small-file problem — the
reference has no answer to it; its chunked writes make it WORSE, one file
per 400k-row chunk per run).

``compact`` rewrites a lake directory with a bounded number of files per
partition (1 by default at fixture scale; size-targeted at cluster scale)
via a staging-dir swap, preserving the Hive partition layout.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..utils import driver_frame
from .merge import _fs, _walk
from .watermark import commits, committed_files, files_payload, norm_uri

_LAYOUT_SCHEMA = T.StructType(
    [T.StructField("partition", T.StringType())]
    + [
        T.StructField(name, T.LongType())
        for name in (
            "n_files", "total_bytes", "min_bytes", "max_bytes", "n_small_files"
        )
    ]
)


def count_data_files(spark: SparkSession, path: str) -> int:
    _, fs, p = _fs(spark, path)
    if not fs.exists(p):
        return 0
    names = (st.getPath().getName() for st in _walk(fs, p))
    return sum(1 for f in names if not f.startswith(("_", ".")))


def compact(
    spark: SparkSession,
    path: str,
    partition_col: str | None = None,
    files_per_partition: int = 1,
    log=None,
    ingestion_id: int | None = None,
) -> int:
    """Rewrite the lake dir with ``files_per_partition`` files per Hive
    partition (or total, when unpartitioned). Returns the row count.

    At cluster scale pick ``files_per_partition`` so files land at
    ~128-512 MB; on Delta this is OPTIMIZE/auto-compaction.

    When ``log`` (an ExecutionLog) and ``ingestion_id`` are given, the
    compaction RE-BASELINES time travel: after the swap it appends one
    atomic LOADED→SUCCESS commit listing the NEW file set (span and
    source_count carried over from the committed history), so
    ``timetravel.read_version`` / ``read_changes`` work from the
    compaction commit forward — only pre-compaction snapshots raise.
    The commit reuses the latest end_value, so the watermark is
    unchanged. Without a log, all history goes stale (every snapshot
    raises) — the pre-existing documented behavior.
    """
    from .delta_sink import is_delta_table, optimize_delta
    from .merge import _publish_swap, _recover_swap

    if is_delta_table(spark, path):
        # production path: OPTIMIZE compacts inside the transaction log —
        # history survives, concurrent readers never see a half-swap
        # (ingest/delta_sink.py; never taken in a package-less env)
        n = spark.read.format("delta").load(path).count()
        optimize_delta(spark, path)
        return n

    # a compaction that crashed mid-swap left the lake in the .__old__
    # backup — restore it before reading (else the read fails outright)
    _recover_swap(spark, path)
    df = spark.read.parquet(path)
    n_before = df.count()

    if partition_col is not None:
        # hash-partition on (partition value, salt): every Hive value's rows
        # land in ≤ files_per_partition tasks, and each task writes one file
        # per value it holds — bounded files per directory, parallel write
        salt = F.pmod(F.xxhash64(*df.columns), F.lit(files_per_partition))
        out = df.repartition(F.col(partition_col), salt)
        writer = (
            out.write.mode("overwrite")
            .option("compression", "snappy")
            .partitionBy(partition_col)
        )
    else:
        writer = (
            df.coalesce(files_per_partition)
            .write.mode("overwrite")
            .option("compression", "snappy")
        )

    staging = path.rstrip("/") + ".__compact__"
    writer.parquet(staging)
    # compaction rewrites the PRIMARY data and _publish_swap deletes the
    # old copy — so the gate deliberately RE-READS the staged files (one
    # extra job) rather than counting the write stream: it must prove the
    # staging is durable AND readable before anything irreversible runs.
    # (The derived materializations in ingest/merge.py take the cheaper
    # Observation count — they are rebuildable from the lake.)
    assert spark.read.parquet(staging).count() == n_before

    _publish_swap(spark, staging, path)

    if log is not None:
        if ingestion_id is None:
            raise ValueError("re-baselining needs ingestion_id with log")
        from .pipeline import _list_files

        # span by COMMIT ORDER, not string order — a lexicographic max of
        # end_value regresses integer watermarks at digit-length
        # boundaries (the ADVICE-r1 watermark bug, same shape)
        cs = commits(log.id_rows(ingestion_id))
        if cs:  # no committed history → nothing to do
            files = sorted(_list_files(spark, path))
            log.append_commit(
                ingestion_id,
                start_value=cs[0]["start_value"],
                end_value=cs[-1]["end_value"],
                source_count=n_before,
                files_json=files_payload(files),
            )
    return n_before


def vacuum(
    spark: SparkSession,
    path: str,
    log,
    ingestion_id: int,
    retention_seconds: float = 7 * 24 * 3600,
    now_ms: int | None = None,
) -> list[str]:
    """Delete data files in the lake dir that NO log record references —
    Delta ``VACUUM`` parity for the log-based lake.

    Crash-orphans inside a run are healed by the pipeline itself
    (_cleanup_orphans); what accumulates over months is everything
    *outside* the protocol: files from writers that bypassed the log,
    leftovers of aborted manual copies, partial uploads. They silently
    inflate consumer reads (a bare ``spark.read.parquet(dir)`` scans
    them) and storage. Referenced = the union of every LOADED record's
    file list for this id — including uncommitted ones, so an in-flight
    concurrent commit's files are never touched; dot-prefixed staging
    dirs and underscore metadata files are skipped outright.

    The ``retention_seconds`` guard (default 7 days, Delta's default)
    additionally protects YOUNG unreferenced files: a writer that has
    created files but not yet appended its LOADED record is invisible to
    the log, and retention is the only shield — same reasoning as
    Delta's "don't vacuum below the max transaction duration".
    ``now_ms`` is injectable for tests. Returns the deleted paths.
    """
    import time as _time

    from .delta_sink import is_delta_table, vacuum_delta

    if is_delta_table(spark, path):
        # production path: Delta's own VACUUM (transaction-log-aware,
        # same default retention); it does not report the deleted list
        vacuum_delta(spark, path, retention_hours=retention_seconds / 3600)
        return []

    _, fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    referenced = {
        norm_uri(f)
        for row in log.id_rows(ingestion_id)
        for f in committed_files(row["reason_code"]) or ()
    }

    cutoff = (now_ms if now_ms is not None else _time.time() * 1000) - (
        retention_seconds * 1000
    )
    deleted: list[str] = []
    for st in _walk(fs, p):
        fp = st.getPath()
        name = fp.getName()
        if name.startswith("_") or name.startswith("."):
            continue
        # any dot-prefixed ancestor (staging dirs) is out of scope — strip
        # the scheme+authority via the URI path so the "/." scan inspects
        # only path components regardless of scheme length (file:, s3a://,
        # abfss://…)
        if "/." in fp.toUri().getPath():
            continue
        if norm_uri(fp.toString()) in referenced:
            continue
        if st.getModificationTime() >= cutoff:
            continue  # young file: maybe an in-flight writer — keep
        fs.delete(fp, False)
        deleted.append(fp.toString())
    return sorted(deleted)


def layout_report(
    spark: SparkSession,
    path: str,
    small_file_bytes: int = 32 * 1024 * 1024,
) -> DataFrame:
    """Physical-layout health report for a lake directory: one row per
    leaf partition directory with file count, total bytes, min/max file
    size, and the count of files under ``small_file_bytes`` — the signal
    that drives `compact` scheduling (at 100 TB the scan-task fan-out is
    footer reads × file count, so small-file accumulation is the top
    operational regression an ingest pipeline creates).

    Metadata-plane only: one recursive Hadoop FS listing on the driver,
    O(files) names/sizes — never reads data, works on any scheme the
    Hadoop conf knows (file://, s3a://, hdfs://). The returned frame is
    built from that listing, so downstream joins (e.g. against the
    execution log's partition activity) are ordinary DataFrame ops.
    """
    import os

    _, fs, p = _fs(spark, path)
    rows: dict[str, list[int]] = {}
    if fs.exists(p):
        base = p.toUri().getPath()
        for f in _walk(fs, p):
            name = f.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue
            parent = f.getPath().getParent().toUri().getPath()
            rel = os.path.relpath(parent, base)
            sizes = rows.setdefault("." if rel == "." else rel, [])
            sizes.append(int(f.getLen()))
    data = [
        (
            part,
            len(sizes),
            int(sum(sizes)),
            int(min(sizes)),
            int(max(sizes)),
            sum(1 for s in sizes if s < small_file_bytes),
        )
        for part, sizes in sorted(rows.items())
    ]
    return driver_frame(spark, data, _LAYOUT_SCHEMA)
