"""Watermark resolution + execution-log state store.

The reference keeps per-run state as CSV "execution log" files on S3 under
date-partitioned prefixes, found again via a today→month→previous-month→
all-time fallback scan (utils/common_utils.py:292-401). Here state is ONE
append-only parquet table; watermark resolution is a single filtered
aggregate — no prefix cascade (SURVEY.md §2.10 T4).

Semantics replicated exactly from the reference (T1,
extractors/ingest_mysql_data.py:73-149):

- first run (no successful row): epoch default '2020-01-01 00:00:00'
  (datetime watermark) or '1' (integer watermark);
- later runs: max(end_value) over rows with execution_status='success',
  bumped by +1 second (datetime) or +1 (integer). The +1s bump can skip
  rows committed within the same second after the previous read — a known
  reference gap, preserved for parity (SURVEY.md §4).
"""

from __future__ import annotations

import json
import uuid
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


class ExecutionLog:
    """Append-only parquet state table (the Delta-table shape without the
    Delta dependency; single-row appends are driver-side and tiny).

    Every append writes its OWN batch subdirectory: concurrent writers
    (the runner ingests tables in parallel threads — and possibly parallel
    processes) would otherwise race on the shared parquet `_temporary`
    committer directory. Distinct directories need no locking at all;
    reads recurse over all batches. A Delta table's ACID append replaces
    this on a production deployment.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        jvm = self.spark.sparkContext._jvm
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(self.path)
        return p.getFileSystem(conf).exists(p)

    def read(self) -> DataFrame:
        """Missing path == genuinely empty log (first run). Any OTHER read
        failure re-raises: swallowing a transient error here would silently
        reset the watermark to the 2020 epoch and re-ingest the whole
        source as duplicates. The reference likewise propagates log-read
        errors (utils/common_utils.py:292-401 has no blanket except)."""
        if not self._exists():
            return self.spark.createDataFrame([], LOG_SCHEMA)
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
        bytes. The row is instead serialized with pyarrow locally and
        copied into place through the Hadoop FS API, so the path works
        for any supported scheme (file://, hdfs://, s3a://...) exactly
        like the old committer did. The file lands under a dot-prefixed
        in-flight name and is renamed into place, so a concurrent
        recursive reader never sees a partial parquet footer (rename is
        atomic on local/HDFS; on S3A it is copy+delete, the same
        weakness the default parquet committer had here).

        Layout is unchanged: one fresh ``batch-<uuid>`` directory per
        append, one snappy parquet file inside, schema == LOG_SCHEMA —
        concurrent writers still need no locking, and readers
        (``read()``'s recursive schema-pinned scan) are untouched.
        The serialize/copy/rename mechanics live in
        ``utils.write_driver_parquet``.
        """
        import pyarrow as pa

        from ..utils import write_driver_parquet

        cols = list(zip(*rows))
        table = pa.Table.from_arrays(
            [
                pa.array(cols[0], pa.int32()),
                pa.array(cols[1], pa.string()),
                pa.array(cols[2], pa.string()),
                pa.array(cols[3], pa.string()),
                pa.array(cols[4], pa.int64()),
                pa.array(cols[5], pa.int64()),
                pa.array(cols[6], pa.string()),
                # naive datetimes are driver-local wall clock — the same
                # interpretation createDataFrame applied (TimestampType
                # .toInternal uses the local tz) — so attach the local
                # offset before the UTC-normalized arrow column
                pa.array(
                    [
                        v if v.tzinfo is not None else v.astimezone()
                        for v in cols[7]
                    ],
                    pa.timestamp("us", tz="UTC"),
                ),
            ],
            names=[f.name for f in LOG_SCHEMA.fields],
        )
        write_driver_parquet(
            self.spark, table, f"{self.path}/batch-{uuid.uuid4().hex}"
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
        stamped 1 µs after the LOADED row so the history pairing window
        (ordered by insert_datetime) is deterministic."""
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
        """Every log row for one ingestion id, collected driver-side in
        ONE job. The log holds O(runs) metadata rows per id by design, so
        the collect is tiny — and the per-run state machinery (orphan
        cleanup, watermark resolution, latest-entry lookups) can share
        one snapshot instead of paying a separate scan job per question
        it asks of the same handful of rows."""
        return (
            self.read()
            .filter(F.col("lake_ingestion_id") == ingestion_id)
            .collect()
        )

    def latest_entry(
        self, ingestion_id: int, status: str | None = None, rows: list | None = None
    ):
        """Most recent log row for an id (argmax over insert_datetime —
        reference: start_ingestion.py:94-97). ``rows`` short-circuits the
        scan with an :meth:`id_rows` snapshot already in hand."""
        if rows is None:
            rows = self.id_rows(ingestion_id)
        cand = [
            r
            for r in rows
            if status is None or r["execution_status"] == status
        ]
        if not cand:
            return None
        return max(cand, key=lambda r: r["insert_datetime"])

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
