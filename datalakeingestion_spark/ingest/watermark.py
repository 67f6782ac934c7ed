"""Watermark resolution + execution-log state store.

The reference keeps per-run state as CSV "execution log" files on S3 under
date-partitioned prefixes, found again via a today→month→previous-month→
all-time fallback scan (utils/common_utils.py:292-401). Here state is ONE
append-only parquet table; watermark resolution is one pass over the
id's rows, read on the driver — no prefix cascade (SURVEY.md §2.10 T4).

Semantics replicated exactly from the reference (T1,
extractors/ingest_mysql_data.py:73-149):

- first run (no successful row): epoch default '2020-01-01 00:00:00'
  (datetime watermark) or '1' (integer watermark);
- later runs: max(end_value) over rows with execution_status='success',
  bumped by +1 second (datetime) or +1 (integer). The +1s bump can skip
  rows committed within the same second after the previous read — a known
  reference gap, preserved for parity (SURVEY.md §4).

The module is also the log's one reader: which batches committed
(:func:`commits`) and whether the last batch was left open
(:func:`open_batch`) are plain functions over one
:meth:`ExecutionLog.id_rows` snapshot, shared by the pipeline, time
travel and maintenance.
"""

from __future__ import annotations

import json
import re
import uuid
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

from ..utils import (
    arrow_rows,
    driver_frame,
    read_driver_parquet,
    write_driver_parquet,
)
from .merge import _fs

# 8 columns per the reference (config/basic_config.py:54-57).
LOG_SCHEMA = T.StructType(
    [
        T.StructField("lake_ingestion_id", T.IntegerType()),
        T.StructField("execution_status", T.StringType()),
        T.StructField("start_value", T.StringType()),
        T.StructField("end_value", T.StringType()),
        T.StructField("source_count", T.LongType()),
        T.StructField("target_count", T.LongType()),
        T.StructField("reason_code", T.StringType()),
        T.StructField("insert_datetime", T.TimestampType()),
    ]
)

STATUS_STARTED = "started"
STATUS_LOADED = "data-loaded-to-s3"
STATUS_NO_DATA = "no-data-to-load"
STATUS_SUCCESS = "success"
STATUS_VALIDATION_FAILURE = "validation-failure"
STATUS_EXTRACTION_FAILURE = "extraction-failure"
STATUS_FAILED = "failed"
# a table whose task_order stage never ran because an upstream stage
# failed (runner barrier semantics — Airflow's all_success trigger rule)
STATUS_SKIPPED = "skipped-upstream-failed"

# statuses that end a LOADED row's batch; the batch committed iff it is
# SUCCESS (see commits)
_TERMINAL = (STATUS_SUCCESS, STATUS_VALIDATION_FAILURE, STATUS_FAILED)
# a batch is closed by one of these statuses, or by a FAILED row carrying
# an orphan-recovery marker, logged at-or-after its STARTED row
_CLOSED = {STATUS_SUCCESS, STATUS_VALIDATION_FAILURE, STATUS_NO_DATA}
_ORPHAN_MARKERS = {
    "orphaned-staging-cleaned",
    "orphaned-batch-cleaned",
    "orphaned-delta-commit-restored",
}

# reason_code of the SUCCESS row a compaction re-baseline writes; history
# treats such a commit's file list as COMPLETE (it replaces, not extends,
# everything before it — ingest/timetravel.py)
BASELINE_MARKER = "compaction-baseline"

DATETIME_EPOCH = "2020-01-01 00:00:00"
INTEGER_EPOCH = "1"
_TS_FMT = "%Y-%m-%d %H:%M:%S"


# The LOADED row's reason_code records what the batch committed: the
# parquet sink's final data-file list (a JSON array) or the Delta sink's
# commit version ({"delta_commit": N}). Python code reads and writes that
# payload only through these four functions.


def files_payload(files: list[str]) -> str:
    return json.dumps(files)


def delta_commit_payload(version: int) -> str:
    return json.dumps({"delta_commit": version})


def _decode_payload(reason_code: str | None):
    try:
        return json.loads(reason_code or "null")
    except ValueError:
        return None


def committed_files(reason_code: str | None) -> list[str] | None:
    """Data files a parquet-sink LOADED row committed; None for any payload
    that is not a file list (a Delta commit, free text, nothing)."""
    payload = _decode_payload(reason_code)
    return [str(f) for f in payload] if isinstance(payload, list) else None


def committed_delta_version(reason_code: str | None) -> int | None:
    """Delta commit version a Delta-sink LOADED row recorded; None for any
    other payload."""
    payload = _decode_payload(reason_code)
    if isinstance(payload, dict) and payload.get("delta_commit") is not None:
        return int(payload["delta_commit"])
    return None


# Hadoop's Path.toString() writes "file:/x" where a scan's
# _metadata.file_path writes "file:///x"; file URIs are compared after
# collapsing the slashes that follow the scheme.
SCHEME_SLASHES = re.compile(r"^([a-z0-9]+):/+")


def norm_uri(path: str) -> str:
    return SCHEME_SLASHES.sub(r"\1:/", path)


def _latest(rows: list, status: str | None = None):
    """Most recent row (argmax over insert_datetime), optionally of one
    status; None when there is none."""
    return max(
        (r for r in rows if status is None or r["execution_status"] == status),
        key=lambda r: r["insert_datetime"],
        default=None,
    )


def commits(rows: list) -> list[Row]:
    """One row per COMMITTED batch, in commit order, from an
    :meth:`ExecutionLog.id_rows` snapshot (the rows of
    ``timetravel.history``).

    A batch is committed iff its LOADED row is immediately followed,
    among LOADED and terminal rows ordered by insert_datetime (LOADED
    first on a tie), by a SUCCESS row: the pipeline appends LOADED →
    moved files → SUCCESS, while a validation rollback appends
    VALIDATION_FAILURE and orphan cleanup appends FAILED — both of which
    un-commit the files the LOADED row listed. Empty-window SUCCESS rows
    (run_windows) carry no files and are not data commits.

    Fields: version (dense, 0-based), committed_at (the SUCCESS row's
    instant), start_value, end_value, source_count, num_files (None when
    the payload is not a file list), files (the LOADED payload), baseline
    (true for a compaction re-baseline commit, whose file list is
    COMPLETE — it replaces everything before it rather than extending
    it)."""
    paired = sorted(
        (r for r in rows if r["execution_status"] in (STATUS_LOADED, *_TERMINAL)),
        # LOADED first when it shares an instant with its terminal row
        key=lambda r: (
            r["insert_datetime"],
            r["execution_status"] != STATUS_LOADED,
        ),
    )
    out: list[Row] = []
    for loaded, nxt in zip(paired, paired[1:]):
        if (
            loaded["execution_status"] != STATUS_LOADED
            or nxt["execution_status"] != STATUS_SUCCESS
        ):
            continue
        files = committed_files(loaded["reason_code"])
        out.append(
            Row(
                version=len(out),
                committed_at=nxt["insert_datetime"],
                start_value=loaded["start_value"],
                end_value=loaded["end_value"],
                source_count=loaded["source_count"],
                num_files=None if files is None else len(files),
                files=loaded["reason_code"],
                baseline=nxt["reason_code"] == BASELINE_MARKER,
            )
        )
    return out


def open_batch(rows: list):
    """``(STARTED row, its latest LOADED row or None)`` when a crash left
    the id's last batch open in this :meth:`ExecutionLog.id_rows`
    snapshot; None when that batch is closed or there is none.

    The decision is BATCH-aware, not trailing-row-aware: the runner
    appends a FAILED row when a job raises mid-commit, so the crash state
    (STARTED/LOADED) is usually NOT the trailing record. A batch counts as
    closed only by SUCCESS / VALIDATION_FAILURE / NO_DATA / a prior
    recovery marker logged at-or-after its STARTED row; an exception-text
    FAILED row does not close it (that was the duplicate-on-retry window
    orphan recovery exists to shut)."""
    started = _latest(rows, STATUS_STARTED)
    if started is None:
        return None
    # one batch's rows — a handful, driver-side by design
    batch = [r for r in rows if r["insert_datetime"] >= started["insert_datetime"]]
    for r in batch:
        if r["execution_status"] in _CLOSED or (
            r["execution_status"] == STATUS_FAILED
            and (r["reason_code"] or "") in _ORPHAN_MARKERS
        ):
            return None
    return started, _latest(batch, STATUS_LOADED)


class ExecutionLog:
    """Append-only parquet state table (the Delta-table shape without the
    Delta dependency; single-row appends are driver-side and tiny).

    Every append writes its OWN batch subdirectory: concurrent writers
    (the runner ingests tables in parallel threads — and possibly parallel
    processes) would otherwise race on the shared parquet `_temporary`
    committer directory. Distinct directories need no locking at all;
    reads recurse over all batches. Both directions run on the driver
    with no Spark job: :meth:`_write_batch` writes a batch file through
    pyarrow and the Hadoop FS API, and :meth:`id_rows`, the pipeline's
    one reader, reads the files back the same way. :meth:`read` stays a
    (Spark) DataFrame for consumers that query the log. A Delta table's
    ACID append replaces this on a production deployment.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        _, fs, p = _fs(self.spark, self.path)
        return fs.exists(p)

    def read(self) -> DataFrame:
        """Missing path == genuinely empty log (first run). Any OTHER read
        failure re-raises: swallowing a transient error here would silently
        reset the watermark to the 2020 epoch and re-ingest the whole
        source as duplicates. The reference likewise propagates log-read
        errors (utils/common_utils.py:292-401 has no blanket except)."""
        if not self._exists():
            return driver_frame(self.spark, [], LOG_SCHEMA)
        return (
            self.spark.read.schema(LOG_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(self.path)
        )

    def _write_batch(self, rows: list[tuple]) -> None:
        """Write one batch directory holding the given rows — from the
        DRIVER, without launching a Spark job.

        A log append is a single metadata row; routing it through
        ``createDataFrame`` + a one-task parquet write paid a full Spark
        job (~0.3-0.7 s of scheduler/committer floor) per state
        transition — 3+ jobs per ingest batch for rows of a few hundred
        bytes. The row is instead built as an Arrow table by
        ``utils.arrow_rows`` (createDataFrame's value checks and its
        reading of naive datetimes as local time), serialized locally and
        copied into place through the Hadoop FS API, so the path works
        for any supported scheme (file://, hdfs://, s3a://...) exactly
        like the old committer did. The file lands under a dot-prefixed
        in-flight name and is renamed into place, so a concurrent
        recursive reader never sees a partial parquet footer (rename is
        atomic on local/HDFS; on S3A it is copy+delete, the same
        weakness the default parquet committer had here).

        Layout: one fresh ``batch-<uuid>`` directory per append, one
        snappy parquet file inside, schema == LOG_SCHEMA — concurrent
        writers need no locking, and both readers, ``read()``'s recursive
        schema-pinned scan and :meth:`id_rows`' driver-side read, skip
        the in-flight name. The serialize/copy/rename mechanics live in
        ``utils.write_driver_parquet``, the read in
        ``utils.read_driver_parquet``.
        """
        write_driver_parquet(
            self.spark,
            arrow_rows(rows, LOG_SCHEMA),
            f"{self.path}/batch-{uuid.uuid4().hex}",
        )

    def append(
        self,
        ingestion_id: int,
        status: str,
        start_value: str = "",
        end_value: str = "",
        source_count: int = 0,
        target_count: int = 0,
        reason_code: str = "",
    ) -> None:
        self._write_batch(
            [
                (
                    ingestion_id,
                    status,
                    start_value,
                    end_value,
                    source_count,
                    target_count,
                    reason_code,
                    datetime.now(),
                )
            ]
        )

    def append_commit(
        self,
        ingestion_id: int,
        start_value: str,
        end_value: str,
        source_count: int,
        files_json: str,
    ) -> None:
        """Atomically append a LOADED→SUCCESS pair in ONE batch directory.

        Used by compaction to re-baseline history (ingest/timetravel.py):
        both rows land in a single parquet write, so no crash point can
        leave a dangling LOADED whose reason_code lists LIVE lake files —
        which orphan cleanup would otherwise delete. The SUCCESS row is
        stamped 1 µs after the LOADED row, so :func:`commits`, which
        pairs rows in insert_datetime order, always pairs these two."""
        t0 = datetime.now()
        t1 = t0 + timedelta(microseconds=1)
        self._write_batch(
            [
                (
                    ingestion_id,
                    STATUS_LOADED,
                    start_value,
                    end_value,
                    source_count,
                    0,
                    files_json,
                    t0,
                ),
                (
                    ingestion_id,
                    STATUS_SUCCESS,
                    start_value,
                    end_value,
                    source_count,
                    source_count,
                    BASELINE_MARKER,
                    t1,
                ),
            ]
        )

    def id_rows(self, ingestion_id: int) -> list:
        """Every log row for one ingestion id, read on the DRIVER with no
        Spark job: :func:`~..utils.read_driver_parquet` lists the batch
        directories and reads each file's bytes through the Hadoop FS
        API into pyarrow (the read twin of :meth:`_write_batch`). The
        rows are those of ``read().filter(id).collect()``: the same
        ``Row`` shape, in-flight and ``_``-prefixed files skipped, and
        ``insert_datetime`` as the naive local datetime ``collect()``
        gives. The log holds O(runs) metadata rows per id by design, so
        the per-run state machinery (orphan cleanup, watermark
        resolution, latest-entry lookups) shares one snapshot instead of
        paying a separate scan per question it asks of the same handful
        of rows."""
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(LOG_SCHEMA)
        t = read_driver_parquet(self.spark, self.path, schema)
        t = t.filter(pc.equal(t["lake_ingestion_id"], ingestion_id))
        ts = T.TimestampType()
        cols = list(t.drop_columns(["insert_datetime"]).to_pydict().values())
        cols.append(
            [
                None if us is None else ts.fromInternal(us)
                for us in t["insert_datetime"].cast(pa.int64()).to_pylist()
            ]
        )
        names = LOG_SCHEMA.names
        return [Row(**dict(zip(names, values))) for values in zip(*cols)]

    def latest_entry(
        self, ingestion_id: int, status: str | None = None, rows: list | None = None
    ):
        """Most recent log row for an id (argmax over insert_datetime —
        reference: start_ingestion.py:94-97). ``rows`` short-circuits the
        scan with an :meth:`id_rows` snapshot already in hand."""
        if rows is None:
            rows = self.id_rows(ingestion_id)
        return _latest(rows, status)

    def last_success_end(
        self,
        ingestion_id: int,
        integer_watermark: bool = False,
        rows: list | None = None,
    ) -> str | None:
        """Largest successful end_value in the watermark's own order.

        end_value is stored as a string; a plain string max is lexicographic
        and regresses integer watermarks at digit-length boundaries
        ('99' > '100'). Order by the TYPED value instead — int for integer
        watermarks, parsed timestamp for datetime ones — and return the
        original string (unparseable end_values are ignored, matching the
        former cast-to-NULL/max_by behavior; typed ties break on the
        string so the pick is deterministic). ``rows`` short-circuits the
        scan with an :meth:`id_rows` snapshot already in hand."""
        if rows is None:
            rows = self.id_rows(ingestion_id)
        best: str | None = None
        best_key = None
        for r in rows:
            if r["execution_status"] != STATUS_SUCCESS or not r["end_value"]:
                continue
            key = _wm_key(r["end_value"], integer_watermark)
            if key is None:
                continue
            if (
                best_key is None
                or key > best_key
                or (key == best_key and r["end_value"] > best)
            ):
                best_key, best = key, r["end_value"]
        return best


def _wm_key(value: str, integer_watermark: bool):
    """Typed ordering key for a stored end_value string; None when the
    string does not parse (mirrors the former SQL cast returning NULL,
    which max_by ignored). Accepts the formats this module itself writes
    — 'YYYY-MM-DD HH:MM:SS[.ffffff]' — plus everything
    ``datetime.fromisoformat`` covers ('T' separators, minute
    precision, timezone offsets: formats the former cast-to-timestamp
    accepted and an externally-written or migrated log may contain).
    Offset-aware values are normalized to the session wall clock (UTC,
    like the cast) so keys stay mutually comparable."""
    if integer_watermark:
        try:
            return int(value)
        except ValueError:
            return None
    for fmt in (_TS_FMT + ".%f", _TS_FMT, "%Y-%m-%d"):
        try:
            return datetime.strptime(value, fmt)
        except ValueError:
            continue
    try:
        ts = datetime.fromisoformat(value)
    except ValueError:
        return None
    if ts.tzinfo is not None:
        from datetime import timezone

        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    return ts


def bump_watermark(value: str, integer_watermark: bool) -> str:
    """Advance the watermark by the smallest representable unit.

    Reference semantics (ingest_mysql_data.py:138-147): +1 second
    (datetime; strptime of the first 19 chars — MySQL DATETIME is
    second-precision so this is lossless there) or +1 (integer).
    Generalization: when the stored end_value carries a fractional second
    (microsecond-precision sources like parquet event streams), bump by
    1 µs instead — the verbatim +1s rule would widen the reference's known
    same-second skip gap (SURVEY.md §4) to a whole sub-second window.
    """
    if integer_watermark:
        return str(int(value) + 1)
    if "." in value:
        ts = datetime.strptime(value, _TS_FMT + ".%f")
        return (ts + timedelta(microseconds=1)).strftime(_TS_FMT + ".%f")
    ts = datetime.strptime(value[:19], _TS_FMT)
    return (ts + timedelta(seconds=1)).strftime(_TS_FMT)


def resolve_watermark(
    log: ExecutionLog,
    ingestion_id: int,
    integer_watermark: bool,
    rows: list | None = None,
) -> str:
    """Start value for the next incremental pull (T1). ``rows`` reuses an
    :meth:`ExecutionLog.id_rows` snapshot instead of re-scanning."""
    last = log.last_success_end(ingestion_id, integer_watermark, rows=rows)
    if last is None or last == "":
        return INTEGER_EPOCH if integer_watermark else DATETIME_EPOCH
    return bump_watermark(last, integer_watermark)
