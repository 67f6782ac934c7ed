from __future__ import annotations

import pytest

from datalakeingestion_spark.ingest.watermark import (
    DATETIME_EPOCH,
    INTEGER_EPOCH,
    STATUS_FAILED,
    STATUS_SUCCESS,
    ExecutionLog,
    bump_watermark,
    resolve_watermark,
)


@pytest.fixture()
def log(spark, tmp_path):
    return ExecutionLog(spark, str(tmp_path / "execution_log"))


@pytest.mark.smoke
def test_first_run_epoch_defaults(log):
    assert resolve_watermark(log, 1, integer_watermark=False) == DATETIME_EPOCH
    assert resolve_watermark(log, 1, integer_watermark=True) == INTEGER_EPOCH


def test_bump_semantics():
    # second-precision values: reference-parity +1s
    assert bump_watermark("2024-06-01 10:20:30", False) == "2024-06-01 10:20:31"
    # fractional values: +1µs (avoids widening the same-second skip gap)
    assert (
        bump_watermark("2024-06-01 10:20:30.999000", False)
        == "2024-06-01 10:20:30.999001"
    )
    assert bump_watermark("41", True) == "42"


def test_resolution_uses_max_success_only(log):
    log.append(1, STATUS_SUCCESS, end_value="2024-01-05 00:00:00")
    log.append(1, STATUS_SUCCESS, end_value="2024-02-01 12:00:00")
    log.append(1, STATUS_FAILED, end_value="2024-09-09 00:00:00")  # ignored
    log.append(2, STATUS_SUCCESS, end_value="2025-01-01 00:00:00")  # other id
    assert resolve_watermark(log, 1, False) == "2024-02-01 12:00:01"


def test_latest_entry_argmax(log):
    log.append(1, STATUS_SUCCESS, end_value="a", reason_code="first")
    log.append(1, STATUS_SUCCESS, end_value="b", reason_code="second")
    assert log.latest_entry(1, STATUS_SUCCESS)["reason_code"] == "second"


def test_empty_log_reads_empty(log):
    assert log.read().count() == 0
    assert log.latest_entry(7) is None


def test_integer_watermark_digit_boundary(log):
    """ADVICE r1 (high): '99' vs '100' — the max over end_value must be
    numeric for integer watermarks, not lexicographic, or the watermark
    regresses at digit-length boundaries and re-ingests duplicates."""
    log.append(1, STATUS_SUCCESS, end_value="99")
    log.append(1, STATUS_SUCCESS, end_value="100")
    assert log.last_success_end(1, integer_watermark=True) == "100"
    assert resolve_watermark(log, 1, integer_watermark=True) == "101"


def test_corrupt_log_raises_not_resets(log, tmp_path):
    """ADVICE r1 (medium): a log path that EXISTS but fails to read must
    raise — silently returning an empty log would reset the watermark to
    the epoch and duplicate the whole source."""
    (tmp_path / "execution_log").mkdir()
    (tmp_path / "execution_log" / "garbage.parquet").write_text("not parquet")
    with pytest.raises(Exception):
        log.read().count()


def test_legacy_iso_end_values_still_order(log):
    """r13 review fix: the driver-side typed max must accept the ISO
    forms the former SQL cast-to-timestamp parsed ('T' separator,
    minute precision, timezone offsets — e.g. rows migrated from an
    external log), normalizing offsets to the UTC session wall clock,
    or an old-format latest row would be silently skipped and the
    watermark would regress into re-ingesting duplicates."""
    log.append(1, STATUS_SUCCESS, end_value="2024-03-01 00:00:00")
    log.append(1, STATUS_SUCCESS, end_value="2024-03-01T06:00:00")
    # 05:00 UTC expressed at +02:00 — between the two naive rows above
    log.append(1, STATUS_SUCCESS, end_value="2024-03-01 07:00:00+02:00")
    assert log.last_success_end(1) == "2024-03-01T06:00:00"
    log.append(1, STATUS_SUCCESS, end_value="2024-03-01 23:00:00+02:00")
    assert log.last_success_end(1) == "2024-03-01 23:00:00+02:00"


def test_append_is_driver_side_and_round_trips(log, spark):
    """r13 suite-wall/ingest-overhead fix: a log append is a driver-side
    pyarrow write + FS copy — it must launch NO Spark job, land as one
    visible parquet file per batch dir (no in-flight leftovers), and read
    back exactly under LOG_SCHEMA, interoperating with batches written by
    the former createDataFrame committer path."""
    import glob
    import os
    import uuid
    from datetime import datetime

    from datalakeingestion_spark.ingest.watermark import LOG_SCHEMA

    sc = spark.sparkContext
    sc.setJobGroup("wm-append-pin", "append must not launch jobs")
    try:
        before = datetime.now()
        log.append(
            7,
            STATUS_SUCCESS,
            start_value="2020-01-01 00:00:00",
            end_value="2021-06-01 12:34:56.123456",
            source_count=5,
            target_count=4,
            reason_code="rc",
        )
        log.append_commit(7, "a", "b", 9, '["f1","f2"]')
        after = datetime.now()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("wm-append-pin") == []

    # on-disk shape: one visible snappy parquet file per batch dir
    for d in glob.glob(f"{log.path}/batch-*"):
        names = sorted(os.listdir(d))
        assert names == ["part-00000.snappy.parquet"], names

    # old-format interop: a committer-written batch coexists
    old_row = (8, STATUS_SUCCESS, "", "2022-01-01 00:00:00", 1, 1, "", datetime.now())
    spark.createDataFrame([old_row], LOG_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{log.path}/batch-{uuid.uuid4().hex}")

    df = log.read()
    assert df.schema == LOG_SCHEMA
    rows = {
        (r["lake_ingestion_id"], r["execution_status"], r["end_value"]): r
        for r in df.collect()
    }
    assert len(rows) == 4
    r = rows[(7, STATUS_SUCCESS, "2021-06-01 12:34:56.123456")]
    assert (r["source_count"], r["target_count"], r["reason_code"]) == (5, 4, "rc")
    assert before <= r["insert_datetime"] <= after
    loaded = rows[(7, "data-loaded-to-s3", "b")]
    baseline = rows[(7, STATUS_SUCCESS, "b")]
    # append_commit's deterministic 1µs LOADED→SUCCESS ordering
    assert (
        baseline["insert_datetime"] - loaded["insert_datetime"]
    ).microseconds == 1
    assert log.last_success_end(8) == "2022-01-01 00:00:00"



def test_append_keeps_insert_datetime_in_a_non_utc_zone(log, monkeypatch):
    """A naive ``insert_datetime`` is driver-local wall clock, as
    createDataFrame reads it: with the process in a non-UTC zone, an
    appended row reads back at the moment it was written, through
    ``id_rows`` and through ``read().collect()`` alike (not shifted by
    the zone's UTC offset)."""
    import time
    from datetime import datetime

    from pyspark.sql import functions as F

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        assert time.localtime().tm_gmtoff != 0
        before = datetime.now()
        log.append(3, STATUS_SUCCESS, end_value="x")
        after = datetime.now()
        (driver_row,) = log.id_rows(3)
        (spark_row,) = (
            log.read().filter(F.col("lake_ingestion_id") == 3).collect()
        )
        assert before <= driver_row["insert_datetime"] <= after
        assert before <= spark_row["insert_datetime"] <= after
    finally:
        monkeypatch.undo()
        time.tzset()

def test_mixed_precision_end_values_ordered_as_timestamps(log):
    # fraction-less empty-window records and µs-precision batch records
    # coexist; the typed (timestamp) order must pick the true max
    log.append(1, STATUS_SUCCESS, end_value="2024-03-01 00:00:00.500000")
    log.append(1, STATUS_SUCCESS, end_value="2024-03-01 00:00:00")
    assert log.last_success_end(1) == "2024-03-01 00:00:00.500000"


_ID_ROWS_SCRIPT = r"""
import os, sys, time, uuid
from datetime import datetime

sys.path.insert(0, sys.argv[1])
assert time.localtime().tm_gmtoff != 0, "the check needs a non-UTC zone"
from pyspark.sql import functions as F

from datalakeingestion_spark.ingest.watermark import (
    LOG_SCHEMA, STATUS_STARTED, STATUS_SUCCESS, ExecutionLog,
)
from datalakeingestion_spark.session import get_spark

spark = get_spark(app_name="id-rows-tz", cpus=1)
root = sys.argv[2]
missing = ExecutionLog(spark, os.path.join(root, "missing"))
assert missing.id_rows(1) == [], "missing log"
log = ExecutionLog(spark, os.path.join(root, "log"))
log.append(1, STATUS_STARTED, start_value="2020-01-01 00:00:00")
log.append(1, STATUS_SUCCESS, "a", "2021-06-01 12:34:56.123456", 5, 5, "rc")
log.append_commit(1, "a", "b", 9, '["f1","f2"]')
log.append(2, STATUS_SUCCESS, end_value="7")
# a committer-written batch: _SUCCESS marker, checksums, INT96 timestamps
spark.createDataFrame(
    [(1, STATUS_SUCCESS, "", "2022-01-01 00:00:00", 1, 1, "", datetime.now())],
    LOG_SCHEMA,
).coalesce(1).write.parquet(os.path.join(log.path, f"batch-{uuid.uuid4().hex}"))
# an append caught mid-copy: a partial file under its in-flight name
batch = os.path.join(log.path, f"batch-{uuid.uuid4().hex}")
os.makedirs(batch)
with open(os.path.join(batch, ".inflight-0"), "wb") as fh:
    fh.write(b"PAR1 partial")
for i in (1, 2, 3):
    got = log.id_rows(i)
    want = log.read().filter(F.col("lake_ingestion_id") == i).collect()
    key = lambda r: (r["insert_datetime"], r["execution_status"])
    assert sorted(got, key=key) == sorted(want, key=key), (i, got, want)
    assert [r.__fields__ for r in got] == [r.__fields__ for r in want]
print("rows", len(log.id_rows(1)))
"""


def test_id_rows_equals_spark_collect_in_a_non_utc_zone(tmp_path):
    """The driver-side ``id_rows`` returns the rows of
    ``read().filter(id).collect()``: same Row shape, same values, and
    ``insert_datetime`` as the same naive local time, checked in a fresh
    process whose local zone is not UTC. The log holds in-flight and
    ``_SUCCESS`` files, a committer-written batch and an
    ``append_commit`` pair; a missing log reads as no rows."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TZ="America/New_York", SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _ID_ROWS_SCRIPT, repo, str(tmp_path)],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    # STARTED, SUCCESS, the append_commit pair and the committer row
    assert "rows 5" in proc.stdout
