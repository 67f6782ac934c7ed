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
- the log is metadata-sized (a handful of rows per run): each reader
  takes ONE ``ExecutionLog.id_rows`` snapshot (one small job) and pairs
  LOADED rows with their terminal status on the driver
  (``watermark.commits``);
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

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..utils import driver_frame
from .merge import _fs
from .watermark import (
    SCHEME_SLASHES,
    ExecutionLog,
    commits,
    committed_delta_version,
    committed_files,
    norm_uri,
)

_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("version", T.IntegerType()),
        T.StructField("committed_at", T.TimestampType()),
        T.StructField("start_value", T.StringType()),
        T.StructField("end_value", T.StringType()),
        T.StructField("source_count", T.LongType()),
        T.StructField("num_files", T.IntegerType()),
        T.StructField("files", T.StringType()),
        T.StructField("baseline", T.BooleanType()),
    ]
)
_FILE_VERSION_SCHEMA = T.StructType(
    [
        T.StructField("_file", T.StringType()),
        T.StructField("_commit_version", T.LongType()),
    ]
)


def history(log: ExecutionLog, ingestion_id: int) -> DataFrame:
    """One row per COMMITTED batch, in commit order — the rows of
    :func:`~.watermark.commits` (which states the pairing rule and the
    columns) over one :meth:`ExecutionLog.id_rows` snapshot, as a
    DataFrame."""
    return driver_frame(
        log.spark, commits(log.id_rows(ingestion_id)), _HISTORY_SCHEMA
    )


def _instant(value: datetime | str) -> datetime:
    """A cutoff as the naive local datetime collected log timestamps use
    (a string is 'YYYY-MM-DD HH:MM:SS[.ffffff]')."""
    if isinstance(value, str):
        fmt = "%Y-%m-%d %H:%M:%S.%f" if "." in value else "%Y-%m-%d %H:%M:%S"
        return datetime.strptime(value, fmt)
    if value.tzinfo is not None:
        return value.astimezone().replace(tzinfo=None)
    return value


def _since_baseline(cs: list) -> list:
    """A baseline commit's list is complete: the commits from the LATEST
    baseline onward."""
    start = max((i for i, c in enumerate(cs) if c["baseline"]), default=0)
    return cs[start:]


def _snapshot_files(
    spark: SparkSession,
    cs: list,
    ingestion_id: int,
    *,
    version: int | None = None,
    as_of: datetime | None = None,
) -> list[str]:
    if version is not None:
        top = [c for c in cs if c["version"] <= version]
        if len(top) != version + 1:
            raise ValueError(
                f"version {version} does not exist for id {ingestion_id}"
            )
    else:
        top = [c for c in cs if c["committed_at"] <= as_of]
    if not top:
        raise ValueError(
            f"no committed snapshot for id {ingestion_id} at the requested point"
        )
    files: list[str] = []
    for c in _since_baseline(top):
        files.extend(_commit_files(c))
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
    by_parent: dict[str, list[tuple[str, str]]] = {}
    for f in files:
        p = jvm.org.apache.hadoop.fs.Path(f)
        by_parent.setdefault(p.getParent().toString(), []).append(
            (f, p.getName())
        )
    out = []
    for parent, named in by_parent.items():
        _, fs, pp = _fs(spark, parent)
        try:
            existing = {s.getPath().getName() for s in fs.listStatus(pp)}
        except Exception:  # directory itself gone
            existing = set()
        out.extend(f for f, name in named if name not in existing)
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

    cs = commits(log.id_rows(ingestion_id))
    if is_delta_table(spark, base_path):
        commit = _delta_commit_of(cs, ingestion_id, version)
        return read_delta(spark, base_path, version=commit)
    files = _snapshot_files(spark, cs, ingestion_id, version=version)
    return spark.read.option("basePath", base_path).parquet(*files)


def _delta_commit_of(cs: list, ingestion_id: int, version: int) -> int:
    """Map a dense 0-based LOG version to the DELTA commit version its
    LOADED row recorded (``reason_code`` → ``delta_commit``, written by
    the Delta sink in ingest/pipeline.py). Raises for a nonexistent
    version or one written by the parquet sink (whose reason_code is a
    file LIST, not the {"delta_commit": N} dict) — guessing would
    silently read a different snapshot once any OPTIMIZE/RESTORE commit
    shifted the numbering."""
    row = next((c for c in cs if c["version"] == version), None)
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

    cs = commits(log.id_rows(ingestion_id))
    if since_version is not None:
        consumed = [c for c in cs if c["version"] <= since_version]
    elif after is not None:
        after = _instant(after)
        consumed = [c for c in cs if c["committed_at"] <= after]
    else:
        consumed = []
    if is_delta_table(spark, base_path):
        if since_version is not None:
            since_commit = _delta_commit_of(cs, ingestion_id, since_version)
        elif consumed:  # latest log version already consumed at the cutoff
            since_commit = _delta_commit_of(
                cs, ingestion_id, consumed[-1]["version"]
            )
        else:  # whole feed: full replay, or every commit is after the cutoff
            since_commit = -1
        return read_changes_delta(spark, base_path, since_commit)
    incremental = since_version is not None or after is not None
    picked = cs[len(consumed):]
    if incremental and any(c["baseline"] for c in picked):
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
        picked = _since_baseline(picked)
    if not picked:
        live = spark.read.option("basePath", base_path).parquet(base_path)
        return live.withColumn(
            "_commit_version", F.lit(None).cast("long")
        ).limit(0)
    file_version: dict[str, int] = {}
    for c in picked:
        for f in _commit_files(c):
            file_version[norm_uri(f)] = c["version"]
    missing = _missing(spark, list(file_version))
    if missing:
        raise RuntimeError(
            "change feed references files no longer on disk "
            f"(first: {missing[0]}); a compaction has rewritten history — "
            "re-baseline the consumer from a current snapshot"
        )
    mapping = driver_frame(
        spark, list(file_version.items()), _FILE_VERSION_SCHEMA
    )
    data = spark.read.option("basePath", base_path).parquet(
        *file_version.keys()
    )
    norm = F.regexp_replace(
        F.col("_metadata.file_path"), SCHEME_SLASHES.pattern, r"$1:/"
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

    as_of = _instant(as_of)
    if is_delta_table(spark, base_path):
        return read_delta(
            spark, base_path, as_of=as_of.strftime("%Y-%m-%d %H:%M:%S.%f")
        )
    cs = commits(log.id_rows(ingestion_id))
    files = _snapshot_files(spark, cs, ingestion_id, as_of=as_of)
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
