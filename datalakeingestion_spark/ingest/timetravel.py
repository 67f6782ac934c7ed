"""Log-based time travel over the append-only lake.

The execution log already records, per ingestion batch, the exact data
files the commit added (the LOADED row's ``reason_code`` carries the final
file list — ingest/pipeline.py) and the instant the batch became durable
(the following SUCCESS row's ``insert_datetime``). That is a commit log,
i.e. the same information a Delta/Iceberg table keeps in its transaction
log — so snapshot reads fall out for free:

- ``history``      — one row per committed batch (Delta ``DESCRIBE
                     HISTORY`` analog);
- ``read_version`` — the lake as of commit N (0-based);
- ``read_as_of``   — the lake as of a wall-clock instant.

The reference has no equivalent (its lake is mutate-in-place S3 prefixes);
this is a beyond-reference capability enabled by the state-table design.

Scale notes:
- the log is metadata-sized (a handful of rows per run), so the
  single-partition window used to pair LOADED rows with their terminal
  status is a non-issue — it never sees data-scale rows;
- reads list explicit data files, so Catalyst still prunes columns and
  pushes filters per file; partition columns are recovered from directory
  names via ``basePath``.

Limits (documented, by design): compaction (``maintenance.compact``)
rewrites data files; when given the log it appends an atomic re-baseline
commit listing the new file set, so snapshots and change feeds work from
the compaction forward — only PRE-compaction snapshots raise (a clear
error, never wrong rows). On a production deployment Delta/Iceberg time
travel replaces this module.
"""

from __future__ import annotations

import re
from datetime import datetime

_SCHEME_SLASHES = re.compile(r"^([a-z0-9]+):/+")

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .watermark import (
    BASELINE_MARKER,
    STATUS_FAILED,
    STATUS_LOADED,
    STATUS_SUCCESS,
    STATUS_VALIDATION_FAILURE,
    ExecutionLog,
    committed_delta_version,
    committed_files,
)

_TERMINAL = (STATUS_SUCCESS, STATUS_VALIDATION_FAILURE, STATUS_FAILED)


def history(log: ExecutionLog, ingestion_id: int) -> DataFrame:
    """One row per COMMITTED batch, in commit order.

    A batch is committed iff its LOADED row is immediately followed (among
    status-bearing rows) by a SUCCESS row: the pipeline appends
    LOADED → moved files → SUCCESS, while a validation rollback appends
    VALIDATION_FAILURE and orphan cleanup appends FAILED — both of which
    un-commit the files the LOADED row listed. Empty-window SUCCESS rows
    (run_windows) carry no files and are not data commits.

    Columns: version (0-based), committed_at, start_value, end_value,
    source_count, num_files, files (json array string), baseline (true
    for a compaction re-baseline commit, whose file list is COMPLETE —
    it replaces everything before it rather than extending it).
    """
    rows = (
        log.read()
        .filter(F.col("lake_ingestion_id") == ingestion_id)
        .filter(F.col("execution_status").isin(STATUS_LOADED, *_TERMINAL))
    )
    # single-partition window: the log holds O(runs) metadata rows, never
    # data-scale rows (see module docstring). Secondary key: if a LOADED
    # row and its terminal row ever land on the same clock microsecond,
    # LOADED must still sort first or the lead() pairing flips.
    status_rank = F.when(F.col("execution_status") == STATUS_LOADED, 0).otherwise(1)
    w = Window.orderBy("insert_datetime", status_rank)
    paired = (
        rows.withColumn("next_status", F.lead("execution_status").over(w))
        .withColumn("next_reason", F.lead("reason_code").over(w))
        .withColumn("committed_at", F.lead("insert_datetime").over(w))
        .filter(
            (F.col("execution_status") == STATUS_LOADED)
            & (F.col("next_status") == STATUS_SUCCESS)
        )
    )
    return (
        paired.withColumn(
            "version",
            F.row_number().over(Window.orderBy("committed_at")) - F.lit(1),
        )
        .withColumn(
            "num_files", F.size(F.from_json("reason_code", "array<string>"))
        )
        .select(
            "version",
            "committed_at",
            "start_value",
            "end_value",
            "source_count",
            "num_files",
            F.col("reason_code").alias("files"),
            (F.col("next_reason") == BASELINE_MARKER).alias("baseline"),
        )
    )


def _snapshot_files(
    spark: SparkSession,
    log: ExecutionLog,
    ingestion_id: int,
    *,
    version: int | None = None,
    as_of: datetime | None = None,
) -> list[str]:
    hist = history(log, ingestion_id)
    if version is not None:
        top = hist.filter(F.col("version") <= version)
    else:
        top = hist.filter(F.col("committed_at") <= F.lit(as_of))
    commits = (  # metadata-sized: one collect answers both the existence
        # check and the file-list union (the former separate count() paid
        # a second job over the same window)
        top.orderBy("version").select("version", "files", "baseline").collect()
    )
    if version is not None and len(commits) != version + 1:
        raise ValueError(
            f"version {version} does not exist for id {ingestion_id}"
        )
    if not commits:
        raise ValueError(
            f"no committed snapshot for id {ingestion_id} at the requested point"
        )
    # a baseline commit's list is complete: union only from the LATEST
    # baseline at or before the requested point
    start = max(
        (i for i, r in enumerate(commits) if r["baseline"]), default=0
    )
    files: list[str] = []
    for row in commits[start:]:
        files.extend(_commit_files(row))
    missing = _missing(spark, files)
    if missing:
        raise RuntimeError(
            "time travel snapshot references files no longer on disk "
            f"(first: {missing[0]}); a compaction or manual rewrite has "
            "rewritten history — older snapshots are unavailable (use "
            "Delta/Iceberg for compaction-surviving time travel)"
        )
    return sorted(files)


def _missing(spark: SparkSession, files: list[str]) -> list[str]:
    """Files from the list that no longer exist — one listStatus per
    DIRECTORY rather than one exists() round-trip per file (a snapshot can
    reference tens of thousands of files but only O(partitions) dirs)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    by_parent: dict[str, list[str]] = {}
    for f in files:
        p = jvm.org.apache.hadoop.fs.Path(f)
        by_parent.setdefault(p.getParent().toString(), []).append(f)
    out = []
    for parent, fs_files in by_parent.items():
        pp = jvm.org.apache.hadoop.fs.Path(parent)
        fs = pp.getFileSystem(conf)
        try:
            existing = {
                s.getPath().getName() for s in fs.listStatus(pp)
            }
        except Exception:  # directory itself gone
            existing = set()
        for f in fs_files:
            if jvm.org.apache.hadoop.fs.Path(f).getName() not in existing:
                out.append(f)
    return sorted(out)


def read_version(
    spark: SparkSession,
    log: ExecutionLog,
    ingestion_id: int,
    version: int,
    base_path: str,
) -> DataFrame:
    """The lake as of commit ``version`` (0-based, per ``history``).

    ``base_path`` is the lake root; it restores Hive partition columns
    (``ts_part=...`` directory names) on the explicit-file read.

    When ``base_path`` is a Delta table (delta-spark installed and the
    lake written with sink_format="delta"), the read delegates to
    Delta's own time travel — but ``version`` KEEPS the log's meaning.
    Delta commit versions also count OPTIMIZE/RESTORE/maintenance
    commits, so passing the log version straight through would silently
    read a different snapshot once any maintenance ran; instead the
    log's LOADED row for data-commit ``version`` recorded the Delta
    commit it landed as (``reason_code`` → ``delta_commit``, written by
    the Delta sink in ingest/pipeline.py) and THAT version is what Delta
    reads. A snapshot with no recorded delta_commit (written before the
    table became Delta) raises rather than guessing."""
    from .delta_sink import is_delta_table, read_delta

    if is_delta_table(spark, base_path):
        commit = _delta_commit_of(log, ingestion_id, version)
        return read_delta(spark, base_path, version=commit)
    files = _snapshot_files(spark, log, ingestion_id, version=version)
    return spark.read.option("basePath", base_path).parquet(*files)


def _delta_commit_of(log: ExecutionLog, ingestion_id: int, version: int) -> int:
    """Map a dense 0-based LOG version to the DELTA commit version its
    LOADED row recorded (``reason_code`` → ``delta_commit``, written by
    the Delta sink in ingest/pipeline.py). Raises for a nonexistent
    version or one written by the parquet sink (whose reason_code is a
    file LIST, not the {"delta_commit": N} dict) — guessing would
    silently read a different snapshot once any OPTIMIZE/RESTORE commit
    shifted the numbering."""
    row = (
        history(log, ingestion_id)
        .filter(F.col("version") == version)
        .select("files")
        .first()
    )
    if row is None:
        raise ValueError(
            f"version {version} does not exist for id {ingestion_id}"
        )
    commit = committed_delta_version(row["files"])
    if commit is None:
        raise ValueError(
            f"log version {version} of id {ingestion_id} records no "
            "delta_commit (written before the Delta sink?) — cannot "
            "map it to a Delta snapshot; read via the parquet log "
            "path or pass a Delta commit version to read_delta"
        )
    return commit


def _commit_files(row) -> list[str]:
    """The file list a ``history`` row committed. A Delta-sink commit
    records a version instead, which the parquet read path cannot use."""
    files = committed_files(row["files"])
    if files is None:
        raise ValueError(
            f"log version {row['version']} records no file list (written "
            "by the Delta sink?) — read it through the Delta table"
        )
    return files


def read_changes(
    spark: SparkSession,
    log: ExecutionLog,
    ingestion_id: int,
    base_path: str,
    *,
    since_version: int | None = None,
    after: datetime | str | None = None,
) -> DataFrame:
    """Rows ADDED by commits after the given point (exclusive) — the
    change-data-feed analog for the append-only lake. An incremental
    consumer remembers the last version it processed and calls this with
    ``since_version=last`` to get exactly the new rows, each tagged with
    a ``_commit_version`` column.

    Delta delegation: when ``base_path`` is a Delta table and
    ``since_version`` is given, returns Delta's change data feed
    starting AFTER the Delta commit that log version ``since_version``
    landed as (the LOADED row's recorded ``delta_commit`` — same
    version-domain mapping as :func:`read_version`: Delta commit
    numbers also count OPTIMIZE/RESTORE commits, so passing the dense
    log version straight through would re-deliver or skip batches the
    moment any maintenance ran). The CDF also carries update/delete
    rows from MERGE, which this append-only feed cannot express. A
    ``since_version`` with no recorded delta_commit raises rather than
    guessing.

    With neither ``since_version`` nor ``after``, every live commit's rows
    are returned (a full CDF replay — from the latest compaction
    re-baseline onward, since that commit's list IS the full table). An
    incremental read whose range crosses a re-baseline raises: the exact
    delta no longer exists, and silently returning the baseline would
    re-deliver every old row as "new".

    On a Delta table ALL three modes delegate to the CDF (not just
    ``since_version`` — the parquet fallback would misread the Delta
    sink's ``{"delta_commit": N}`` payloads as file lists): ``after``
    maps to the delta commit of the latest log version at or before
    the cutoff, and no-arg replays the feed from commit 0. Two honest
    deltas from the parquet contract: (a) the CDF window is COMMIT-
    complete, not log-complete — a data-bearing delta commit with no
    log row (out-of-band append, MERGE churn) between the mapped
    commit and the next logged run IS delivered, which is the right
    change feed for the table even though the log alone would not
    list it; (b) a full replay needs the CDF for commit 0 still
    retained — on a lake whose early history was OPTIMIZEd and
    VACUUMed past retention, real Delta raises its
    change-data-file-not-found error, and the consumer should
    re-baseline from a snapshot (:func:`read_version`) exactly as the
    parquet path demands when an incremental range crosses a
    compaction.

    Scale shape: the commit→files map is metadata-sized; the data is ONE
    explicit-file parquet scan plus a broadcast join of that map on the
    scan's ``_metadata.file_path`` — no per-commit read, no union. The
    append-only lake means every change is an INSERT; update/delete
    feeds only exist under the latest-zone MERGE (Delta CDF territory).
    """
    from .delta_sink import is_delta_table, read_changes_delta

    if after is not None and isinstance(after, str):
        fmt = (
            "%Y-%m-%d %H:%M:%S.%f" if "." in after else "%Y-%m-%d %H:%M:%S"
        )
        after = datetime.strptime(after, fmt)
    if is_delta_table(spark, base_path):
        if since_version is not None:
            since_commit = _delta_commit_of(log, ingestion_id, since_version)
        elif after is not None:
            row = (  # latest log version already consumed at the cutoff
                history(log, ingestion_id)
                .filter(F.col("committed_at") <= F.lit(after))
                .orderBy(F.col("version").desc())
                .select("version")
                .first()
            )
            since_commit = (
                -1  # whole feed: every log commit is after the cutoff
                if row is None
                else _delta_commit_of(log, ingestion_id, row["version"])
            )
        else:
            since_commit = -1  # full CDF replay from commit 0
        return read_changes_delta(spark, base_path, since_commit)
    hist = history(log, ingestion_id)
    incremental = since_version is not None or after is not None
    if since_version is not None:
        picked = hist.filter(F.col("version") > since_version)
    elif after is not None:
        picked = hist.filter(F.col("committed_at") > F.lit(after))
    else:
        picked = hist
    commits = (  # metadata-sized
        picked.orderBy("version").select("version", "files", "baseline").collect()
    )
    if incremental and any(r["baseline"] for r in commits):
        # A compaction re-baseline commit's file list is the COMPLETE
        # table, not a delta — returning it would silently re-deliver
        # every pre-compaction row as "new". (When the compaction also
        # rewrote the files of other not-yet-consumed commits, the
        # missing-file guard below catches it; this guard covers the
        # consumer that was fully caught up BEFORE the compaction, whose
        # picked commits all still exist on disk.)
        raise RuntimeError(
            "change feed crosses a compaction re-baseline commit; the "
            "exact delta no longer exists — re-baseline the consumer "
            "from a current snapshot (read_version) and resume from "
            "that version"
        )
    if not incremental:
        # full replay = current content: union from the LATEST baseline
        # (complete list) onward, exactly like a snapshot read
        start = max(
            (i for i, r in enumerate(commits) if r["baseline"]), default=0
        )
        commits = commits[start:]

    def _norm(p: str) -> str:
        # Hadoop Path.toString() says "file:/x"; _metadata.file_path may
        # render the same file as "file:///x" — collapse both forms
        return _SCHEME_SLASHES.sub(r"\1:/", p)

    if not commits:
        live = spark.read.option("basePath", base_path).parquet(base_path)
        return live.withColumn(
            "_commit_version", F.lit(None).cast("long")
        ).limit(0)
    file_version: dict[str, int] = {}
    for row in commits:
        for f in _commit_files(row):
            file_version[_norm(f)] = row["version"]
    missing = _missing(spark, list(file_version))
    if missing:
        raise RuntimeError(
            "change feed references files no longer on disk "
            f"(first: {missing[0]}); a compaction has rewritten history — "
            "re-baseline the consumer from a current snapshot"
        )
    mapping = spark.createDataFrame(
        [(f, v) for f, v in file_version.items()],
        "_file string, _commit_version long",
    )
    data = spark.read.option("basePath", base_path).parquet(
        *file_version.keys()
    )
    norm = F.regexp_replace(
        F.col("_metadata.file_path"), r"^([a-z0-9]+):/+", r"$1:/"
    )
    return (
        data.withColumn("_file", norm)
        .join(F.broadcast(mapping), "_file")
        .drop("_file")
    )


def read_as_of(
    spark: SparkSession,
    log: ExecutionLog,
    ingestion_id: int,
    as_of: datetime | str,
    base_path: str,
) -> DataFrame:
    """The lake as of wall-clock instant ``as_of`` (inclusive of any commit
    whose SUCCESS row landed at or before it). Delegates to Delta's
    ``timestampAsOf`` when ``base_path`` is a Delta table."""
    from .delta_sink import is_delta_table, read_delta

    if isinstance(as_of, str):
        fmt = "%Y-%m-%d %H:%M:%S.%f" if "." in as_of else "%Y-%m-%d %H:%M:%S"
        as_of = datetime.strptime(as_of, fmt)
    if is_delta_table(spark, base_path):
        return read_delta(
            spark, base_path, as_of=as_of.strftime("%Y-%m-%d %H:%M:%S.%f")
        )
    files = _snapshot_files(spark, log, ingestion_id, as_of=as_of)
    return spark.read.option("basePath", base_path).parquet(*files)


def version_diff(
    spark: SparkSession,
    log: ExecutionLog,
    ingestion_id: int,
    from_version: int,
    to_version: int,
    base_path: str,
) -> DataFrame:
    """Row-level diff between two commit snapshots: every row present in
    exactly one of the versions, tagged ``_change`` = 'added' (only in
    ``to_version``) or 'removed' (only in ``from_version``) — the audit
    view behind "what did commit N actually change", including rewrites
    from compaction re-baselines that `read_changes`' append-only feed
    does not re-emit.

    Cost model: for APPEND-ONLY histories prefer `read_changes` — it
    reads only the new files. This diff is the general form (survives
    rewrites/rollbacks) and costs two snapshot scans + two hash
    anti-joins on all columns (`exceptAll` keeps duplicate multiplicity,
    so a row appearing twice then once diffs correctly).
    """
    from pyspark.sql import functions as F

    old = read_version(spark, log, ingestion_id, from_version, base_path)
    new = read_version(spark, log, ingestion_id, to_version, base_path)
    added = new.exceptAll(old).withColumn("_change", F.lit("added"))
    removed = old.exceptAll(new).withColumn("_change", F.lit("removed"))
    return added.unionByName(removed)
