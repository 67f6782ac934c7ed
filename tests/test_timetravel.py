"""Log-based time travel (ingest/timetravel.py): the execution log's
LOADED file lists + SUCCESS commit instants form a transaction log, so the
lake is readable as of any commit. Rolled-back batches never appear in
history; snapshots older than a compaction raise instead of lying.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalakeingestion_spark.config.partition_spec import PartitionSpec
from datalakeingestion_spark.ingest.maintenance import compact
from datalakeingestion_spark.ingest.pipeline import IncrementalIngestJob
from datalakeingestion_spark.ingest.timetravel import (
    history,
    read_as_of,
    read_version,
)
from datalakeingestion_spark.ingest.watermark import (
    STATUS_FAILED,
    STATUS_LOADED,
    STATUS_NO_DATA,
    STATUS_STARTED,
    STATUS_SUCCESS,
    STATUS_VALIDATION_FAILURE,
    ExecutionLog,
    delta_commit_payload,
)
from datalakeingestion_spark.sources.fixtures import load_table

from .conftest import SF_SMALL
from .test_delta_sink import fake_delta  # noqa: F401 - fixture

CAP1 = "2024-01-10 00:00:00"
CAP2 = "2024-01-20 00:00:00"


@pytest.fixture()
def events(spark):
    return load_table(spark, SF_SMALL, "events")


def _job(spark, events, tmp_path, **kw):
    defaults = dict(
        spark=spark,
        ingestion_id=1,
        source=events,
        delta_field="ts",
        target_location=str(tmp_path / "lake" / "events"),
        log=ExecutionLog(spark, str(tmp_path / "log")),
        partition_spec=PartitionSpec("ts", "time-based", "YYYYMM"),
    )
    defaults.update(kw)
    return IncrementalIngestJob(**defaults)


def test_snapshot_reads_across_three_commits(spark, events, tmp_path):
    r1 = _job(spark, events, tmp_path, end_value_cap=CAP1).run()
    r2 = _job(spark, events, tmp_path, end_value_cap=CAP2).run()
    r3 = _job(spark, events, tmp_path).run()
    assert [r.status for r in (r1, r2, r3)] == [STATUS_SUCCESS] * 3

    log = ExecutionLog(spark, str(tmp_path / "log"))
    target = str(tmp_path / "lake" / "events")
    hist = history(log, 1).orderBy("version").collect()
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert [h["source_count"] for h in hist] == [
        r1.source_count,
        r2.source_count,
        r3.source_count,
    ]
    assert all(h["num_files"] >= 1 for h in hist)

    v0 = read_version(spark, log, 1, 0, target)
    v1 = read_version(spark, log, 1, 1, target)
    v2 = read_version(spark, log, 1, 2, target)
    assert v0.count() == r1.source_count
    assert v1.count() == r1.source_count + r2.source_count
    assert v2.count() == events.count()
    # snapshots carry the Hive partition column via basePath
    assert "ts_part" in v0.columns
    # version 0 holds exactly the first window's rows
    assert v0.filter(F.col("ts") > CAP1).count() == 0

    # as-of the first commit instant → only commit 0 is visible
    asof = read_as_of(spark, log, 1, hist[0]["committed_at"], target)
    assert asof.count() == r1.source_count

    with pytest.raises(ValueError):
        read_version(spark, log, 1, 3, target)


@pytest.mark.smoke
def test_rolled_back_batch_absent_from_history(spark, events, tmp_path):
    # commit 0 normally, then force a validation failure on the next range
    # by pre-seeding extra rows inside it (same trick as the rollback test)
    r1 = _job(spark, events, tmp_path, end_value_cap=CAP1).run()
    target = str(tmp_path / "lake" / "events")
    seed = events.filter(
        (F.col("ts") > CAP1) & (F.col("ts") <= CAP2)
    ).limit(5)
    spec = PartitionSpec("ts", "time-based", "YYYYMM")
    spec.derive(seed).write.mode("append").partitionBy("ts_part").parquet(target)

    r2 = _job(spark, events, tmp_path, end_value_cap=CAP2).run()
    assert r2.status == STATUS_VALIDATION_FAILURE

    log = ExecutionLog(spark, str(tmp_path / "log"))
    hist = history(log, 1).collect()
    assert [h["version"] for h in hist] == [0]
    assert read_version(spark, log, 1, 0, target).count() == r1.source_count


def test_compaction_invalidates_old_snapshots_loudly(spark, events, tmp_path):
    _job(spark, events, tmp_path, end_value_cap=CAP1).run()
    _job(spark, events, tmp_path).run()
    log = ExecutionLog(spark, str(tmp_path / "log"))
    target = str(tmp_path / "lake" / "events")
    n = spark.read.parquet(target).count()

    compact(spark, target, partition_col="ts_part")
    assert spark.read.parquet(target).count() == n  # data intact
    with pytest.raises(RuntimeError, match="compaction"):
        read_version(spark, log, 1, 0, target)


def test_read_changes_incremental_consumer(spark, events, tmp_path):
    r1 = _job(spark, events, tmp_path, end_value_cap=CAP1).run()
    r2 = _job(spark, events, tmp_path, end_value_cap=CAP2).run()
    r3 = _job(spark, events, tmp_path).run()
    assert [r.status for r in (r1, r2, r3)] == [STATUS_SUCCESS] * 3
    log = ExecutionLog(spark, str(tmp_path / "log"))
    target = str(tmp_path / "lake" / "events")

    from datalakeingestion_spark.ingest.timetravel import read_changes

    # consumer processed version 0 → gets exactly commits 1 and 2
    delta = read_changes(spark, log, 1, target, since_version=0)
    assert delta.count() == r2.source_count + r3.source_count
    per_version = {
        row["_commit_version"]: row["n"]
        for row in delta.groupBy("_commit_version").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert per_version == {1: r2.source_count, 2: r3.source_count}
    # no rows from the first window leak in
    assert delta.filter(F.col("ts") <= CAP1).count() == 0

    # full replay covers the whole lake; fully-caught-up consumer gets 0
    assert read_changes(spark, log, 1, target).count() == events.count()
    caught_up = read_changes(spark, log, 1, target, since_version=2)
    assert caught_up.count() == 0
    assert "_commit_version" in caught_up.columns

    # time-based variant: after the first commit instant
    hist = history(log, 1).orderBy("version").collect()
    by_time = read_changes(
        spark, log, 1, target, after=hist[0]["committed_at"]
    )
    assert by_time.count() == r2.source_count + r3.source_count


def test_compaction_rebaselines_history_when_logged(spark, events, tmp_path):
    r1 = _job(spark, events, tmp_path, end_value_cap=CAP1).run()
    r2 = _job(spark, events, tmp_path).run()
    assert [r.status for r in (r1, r2)] == [STATUS_SUCCESS] * 2
    log = ExecutionLog(spark, str(tmp_path / "log"))
    target = str(tmp_path / "lake" / "events")
    wm_before = log.last_success_end(1)

    compact(spark, target, partition_col="ts_part", log=log, ingestion_id=1)

    # the compaction commit is version 2; its snapshot is the whole lake
    hist = history(log, 1).orderBy("version").collect()
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert hist[2]["source_count"] == events.count()
    assert hist[2]["start_value"] == hist[0]["start_value"]
    assert hist[2]["end_value"] == hist[1]["end_value"]
    v2 = read_version(spark, log, 1, 2, target)
    assert v2.count() == events.count()
    assert "ts_part" in v2.columns

    # pre-compaction snapshots raise loudly; the watermark is unchanged
    with pytest.raises(RuntimeError, match="compaction"):
        read_version(spark, log, 1, 0, target)
    assert log.last_success_end(1) == wm_before

    from datalakeingestion_spark.ingest.timetravel import read_changes

    # a consumer re-baselined on the compaction commit sees nothing new,
    # then exactly the next ingest's rows (no re-delivery of old data)
    assert read_changes(spark, log, 1, target, since_version=2).count() == 0
    with pytest.raises(RuntimeError, match="re-baseline"):
        read_changes(spark, log, 1, target, since_version=0)


def test_read_changes_rebaseline_guards(spark, events, tmp_path):
    r1 = _job(spark, events, tmp_path, end_value_cap=CAP1).run()
    r2 = _job(spark, events, tmp_path).run()
    assert [r.status for r in (r1, r2)] == [STATUS_SUCCESS] * 2
    log = ExecutionLog(spark, str(tmp_path / "log"))
    target = str(tmp_path / "lake" / "events")

    compact(spark, target, partition_col="ts_part", log=log, ingestion_id=1)

    from datalakeingestion_spark.ingest.timetravel import read_changes

    # a consumer fully caught up BEFORE the compaction (since_version=1):
    # every file it would read still exists (the baseline list), so only
    # the explicit re-baseline guard prevents silently re-delivering the
    # whole table as "changes"
    with pytest.raises(RuntimeError, match="re-baseline"):
        read_changes(spark, log, 1, target, since_version=1)

    # full replay works ACROSS the compaction: latest-baseline-onward,
    # whole table, tagged with the baseline commit's version
    replay = read_changes(spark, log, 1, target)
    assert replay.count() == events.count()
    versions = {r["_commit_version"] for r in replay.select("_commit_version").distinct().collect()}
    assert versions == {2}

    # post-compaction ingests resume exact incremental deltas
    # (no new data here: caught-up-at-baseline consumer sees zero rows)
    assert read_changes(spark, log, 1, target, since_version=2).count() == 0


def test_ingest_after_compaction_resumes_exact_deltas(spark, events, tmp_path):
    """The full lifecycle: ingest → compact (re-baseline) → ingest more.
    The watermark survives the compaction, the next ingest commits as a
    normal delta on top of the baseline, and a consumer anchored at the
    baseline version receives exactly the new rows."""
    r1 = _job(spark, events, tmp_path, end_value_cap=CAP1).run()
    assert r1.status == STATUS_SUCCESS
    log = ExecutionLog(spark, str(tmp_path / "log"))
    target = str(tmp_path / "lake" / "events")

    compact(spark, target, partition_col="ts_part", log=log, ingestion_id=1)

    r2 = _job(spark, events, tmp_path).run()  # post-compaction delta
    assert r2.status == STATUS_SUCCESS and r2.source_count > 0

    from datalakeingestion_spark.ingest.timetravel import read_changes

    hist = history(log, 1).orderBy("version").collect()
    assert [bool(h["baseline"]) for h in hist] == [False, True, False]

    delta = read_changes(spark, log, 1, target, since_version=1)
    assert delta.count() == r2.source_count
    assert {r["_commit_version"] for r in delta.select("_commit_version").distinct().collect()} == {2}
    # no pre-compaction rows leak into the post-baseline delta
    assert delta.filter(F.col("ts") <= CAP1).count() == 0

    # snapshots: baseline version == lake at compaction; latest == full lake
    assert read_version(spark, log, 1, 1, target).count() == r1.source_count
    assert read_version(spark, log, 1, 2, target).count() == events.count()


def test_vacuum_removes_only_unreferenced_old_files(spark, events, tmp_path):
    """VACUUM parity: files no log record references are removed once
    older than retention; referenced data, staging dirs, metadata files
    and YOUNG strays all survive."""
    import os
    import shutil
    import time

    from datalakeingestion_spark.ingest.maintenance import vacuum

    r1 = _job(spark, events, tmp_path).run()
    assert r1.status == STATUS_SUCCESS
    log = ExecutionLog(spark, str(tmp_path / "log"))
    target = tmp_path / "lake" / "events"
    n_before = spark.read.parquet(str(target)).count()

    # plant strays (copies of a real data file, so they read as parquet
    # and silently inflate bare directory reads — the problem vacuum
    # exists to fix): an old one, a young one, and a staged one
    part_dir = next(d for d in target.iterdir() if d.name.startswith("ts_part="))
    real = next(f for f in part_dir.iterdir() if f.name.endswith(".parquet"))
    old_stray = part_dir / "stray-manual-copy.parquet"
    shutil.copyfile(real, old_stray)
    old_ms = (time.time() - 8 * 24 * 3600) * 1000
    os.utime(old_stray, (old_ms / 1000, old_ms / 1000))
    young_stray = part_dir / "stray-young.parquet"
    shutil.copyfile(real, young_stray)
    staged = target / ".staging-xyz"
    staged.mkdir()
    shutil.copyfile(real, staged / "part-0.parquet")
    assert spark.read.parquet(str(target)).count() > n_before  # inflated

    deleted = vacuum(spark, str(target), log, 1)
    assert [d.split("/")[-1] for d in deleted] == ["stray-manual-copy.parquet"]
    assert young_stray.exists() and (staged / "part-0.parquet").exists()
    # time travel still resolves every commit after the vacuum
    assert read_version(spark, log, 1, 0, str(target)).count() == r1.source_count

    # with retention waived, the young stray goes too (explicit opt-in);
    # the bare directory read is exact again
    deleted2 = vacuum(spark, str(target), log, 1, retention_seconds=0)
    assert [d.split("/")[-1] for d in deleted2] == ["stray-young.parquet"]
    assert spark.read.parquet(str(target)).count() == n_before


def test_layout_report_flags_small_files(spark, tmp_path):
    from datalakeingestion_spark.ingest.maintenance import layout_report

    import pyspark.sql.functions as F

    lake = str(tmp_path / "lake")
    df = spark.range(1000).withColumn("p", F.col("id") % 2)
    # many tiny files in partition p=0/p=1
    df.repartition(8).write.partitionBy("p").parquet(lake)
    rep = {r.partition: r for r in layout_report(spark, lake).collect()}
    assert set(rep) == {"p=0", "p=1"}
    for r in rep.values():
        assert r.n_files >= 2
        assert r.n_small_files == r.n_files  # all tiny here
        assert r.min_bytes > 0 and r.total_bytes >= r.max_bytes


def test_version_diff_tags_added_and_removed(spark, events, tmp_path):
    """Diff between commits 0 and 1 is exactly commit 1's batch, all
    'added'; the reverse diff tags the same rows 'removed'; diffing a
    version against itself is empty."""
    from datalakeingestion_spark.ingest.timetravel import version_diff

    r1 = _job(spark, events, tmp_path, end_value_cap=CAP1).run()
    r2 = _job(spark, events, tmp_path, end_value_cap=CAP2).run()
    assert [r.status for r in (r1, r2)] == [STATUS_SUCCESS] * 2
    log = ExecutionLog(spark, str(tmp_path / "log"))
    target = str(tmp_path / "lake" / "events")

    d = version_diff(spark, log, 1, 0, 1, target)
    assert d.filter(F.col("_change") == "removed").count() == 0
    added = d.filter(F.col("_change") == "added")
    assert added.count() == r2.source_count
    assert added.filter(
        (F.col("ts") <= CAP1) | (F.col("ts") > CAP2)
    ).count() == 0

    rev = version_diff(spark, log, 1, 1, 0, target)
    assert rev.filter(F.col("_change") == "added").count() == 0
    assert rev.filter(F.col("_change") == "removed").count() == r2.source_count

    assert version_diff(spark, log, 1, 1, 1, target).count() == 0


# ---------------------------------------------------------------------------
# The history() contract, pinned on hand-written log rows
# ---------------------------------------------------------------------------

HISTORY_SCHEMA = (
    "struct<version:int,committed_at:timestamp,start_value:string,"
    "end_value:string,source_count:bigint,num_files:int,files:string,"
    "baseline:boolean>"
)


def _row(status, ts, reason="", start="", end="", n=0, ingestion_id=1):
    from datetime import datetime

    at = datetime(2024, 1, 1, 0, 0, ts)
    return (ingestion_id, status, start, end, n, n, reason, at)


def test_history_schema_is_pinned(spark, tmp_path):
    empty = ExecutionLog(spark, str(tmp_path / "empty"))
    assert history(empty, 1).schema.simpleString() == HISTORY_SCHEMA
    assert history(empty, 1).collect() == []

    log = ExecutionLog(spark, str(tmp_path / "log"))
    log.append(1, STATUS_LOADED, "a", "b", 3, reason_code='["f1", "f2"]')
    log.append(1, STATUS_SUCCESS, "a", "b", 3, 3)
    hist = history(log, 1)
    assert hist.schema.simpleString() == HISTORY_SCHEMA
    (h,) = hist.collect()
    assert (h["version"], h["start_value"], h["end_value"]) == (0, "a", "b")
    assert (h["source_count"], h["num_files"]) == (3, 2)
    assert h["files"] == '["f1", "f2"]' and h["baseline"] is False


def test_history_num_files_is_null_for_a_delta_commit(spark, tmp_path):
    log = ExecutionLog(spark, str(tmp_path / "log"))
    payload = delta_commit_payload(4)
    log.append(1, STATUS_LOADED, "a", "b", 3, reason_code=payload)
    log.append(1, STATUS_SUCCESS, "a", "b", 3, 3)
    (h,) = history(log, 1).collect()
    assert h["num_files"] is None
    assert h["files"] == payload


def test_history_baseline_only_on_compaction_commit(spark, tmp_path):
    log = ExecutionLog(spark, str(tmp_path / "log"))
    log.append(1, STATUS_LOADED, "1", "5", 5, reason_code='["f1"]')
    log.append(1, STATUS_SUCCESS, "1", "5", 5, 5, reason_code="")
    log.append_commit(1, "1", "5", 5, '["c1"]')
    log.append(1, STATUS_LOADED, "6", "9", 4, reason_code='["f2"]')
    log.append(
        1, STATUS_SUCCESS, "6", "9", 4, reason_code="validation-skipped"
    )
    hist = history(log, 1).orderBy("version").collect()
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert [h["baseline"] for h in hist] == [False, True, False]
    assert [h["files"] for h in hist] == ['["f1"]', '["c1"]', '["f2"]']


def test_history_pairs_loaded_with_the_next_terminal_row(spark, tmp_path):
    """A LOADED row is a commit only when the next LOADED-or-terminal row
    is SUCCESS. Rolled-back and orphan-cleaned batches are absent,
    STARTED/NO_DATA rows are ignored, an empty-window SUCCESS with no
    LOADED row is no commit, versions stay dense, committed_at is the
    SUCCESS row's instant, and LOADED sorts first on a timestamp tie."""
    log = ExecutionLog(spark, str(tmp_path / "log"))
    log._write_batch(
        [
            _row(STATUS_STARTED, 0),
            _row(STATUS_LOADED, 1, '["a"]', "s0", "e0", 1),
            _row(STATUS_SUCCESS, 2),
            _row(STATUS_LOADED, 3, '["b"]', "s1", "e1", 2),
            _row(STATUS_VALIDATION_FAILURE, 4, "count-mismatch-rolled-back"),
            _row(STATUS_LOADED, 5, '["c"]', "s2", "e2", 3),
            _row(STATUS_FAILED, 6, "orphaned-batch-cleaned"),
            _row(STATUS_NO_DATA, 7),
            _row(STATUS_SUCCESS, 8, "empty-window"),
            # the SUCCESS row comes first in the file, on the same instant
            _row(STATUS_SUCCESS, 9),
            _row(STATUS_LOADED, 9, '["d"]', "s3", "e3", 4),
        ]
    )
    # another id's commit never shows in id 1's history
    log._write_batch(
        [
            _row(STATUS_LOADED, 10, '["x"]', ingestion_id=2),
            _row(STATUS_SUCCESS, 11, ingestion_id=2),
        ]
    )
    hist = history(log, 1).orderBy("version").collect()
    assert [h["version"] for h in hist] == [0, 1]
    assert [h["files"] for h in hist] == ['["a"]', '["d"]']
    assert [h["start_value"] for h in hist] == ["s0", "s3"]
    assert [h["committed_at"].second for h in hist] == [2, 9]
    assert [h["source_count"] for h in hist] == [1, 4]


def test_read_as_of_commit_instant_includes_that_commit(
    spark, events, tmp_path
):
    from datetime import timedelta

    r1 = _job(spark, events, tmp_path, end_value_cap=CAP1).run()
    r2 = _job(spark, events, tmp_path).run()
    assert [r.status for r in (r1, r2)] == [STATUS_SUCCESS] * 2
    log = ExecutionLog(spark, str(tmp_path / "log"))
    target = str(tmp_path / "lake" / "events")
    at = history(log, 1).orderBy("version").collect()[1]["committed_at"]

    assert read_as_of(spark, log, 1, at, target).count() == events.count()
    before = at - timedelta(microseconds=1)
    assert read_as_of(spark, log, 1, before, target).count() == r1.source_count
    as_text = at.strftime("%Y-%m-%d %H:%M:%S.%f")
    assert read_as_of(spark, log, 1, as_text, target).count() == events.count()


# ---------------------------------------------------------------------------
# Every log reader takes one id_rows snapshot and no other log scan
# ---------------------------------------------------------------------------


@pytest.fixture()
def log_reads(monkeypatch):
    """Counts ``ExecutionLog.id_rows`` snapshots, and ``ExecutionLog.read``
    calls made outside one."""
    calls = {"id_rows": 0, "read": 0, "read_outside_id_rows": 0}
    depth = []
    id_rows, read = ExecutionLog.id_rows, ExecutionLog.read

    def counted_id_rows(self, ingestion_id):
        calls["id_rows"] += 1
        depth.append(1)
        try:
            return id_rows(self, ingestion_id)
        finally:
            depth.pop()

    def counted_read(self):
        calls["read"] += 1
        if not depth:
            calls["read_outside_id_rows"] += 1
        return read(self)

    monkeypatch.setattr(ExecutionLog, "id_rows", counted_id_rows)
    monkeypatch.setattr(ExecutionLog, "read", counted_read)

    def measure(fn):
        for k in calls:
            calls[k] = 0
        fn()
        return dict(calls)

    return measure


# id_rows reads the log on the driver, not through read()
ONE_SNAPSHOT = {"id_rows": 1, "read": 0, "read_outside_id_rows": 0}


def test_parquet_readers_take_one_log_snapshot(
    spark, events, tmp_path, log_reads
):
    from datalakeingestion_spark.ingest.maintenance import vacuum
    from datalakeingestion_spark.ingest.timetravel import read_changes

    _job(spark, events, tmp_path, end_value_cap=CAP1).run()
    log = ExecutionLog(spark, str(tmp_path / "log"))
    target = str(tmp_path / "lake" / "events")
    got = {"run": log_reads(_job(spark, events, tmp_path).run)}
    at = history(log, 1).orderBy("version").collect()[0]["committed_at"]
    readers = {
        "read_version": lambda: read_version(spark, log, 1, 1, target),
        "read_as_of": lambda: read_as_of(spark, log, 1, at, target),
        "read_changes(since_version)": lambda: read_changes(
            spark, log, 1, target, since_version=0
        ),
        "read_changes(after)": lambda: read_changes(
            spark, log, 1, target, after=at
        ),
        "read_changes(replay)": lambda: read_changes(spark, log, 1, target),
        "vacuum": lambda: vacuum(spark, target, log, 1),
        "compact": lambda: compact(
            spark, target, partition_col="ts_part", log=log, ingestion_id=1
        ),
    }
    got.update({name: log_reads(fn) for name, fn in readers.items()})
    assert got == {name: ONE_SNAPSHOT for name in got}


def test_delta_read_changes_takes_one_log_snapshot(
    spark, events, tmp_path, fake_delta, monkeypatch, log_reads
):
    from datalakeingestion_spark.ingest import delta_sink as dsink
    from datalakeingestion_spark.ingest.timetravel import read_changes

    delta = dict(partition_spec=None, sink_format="delta")
    job = _job(spark, events, tmp_path, end_value_cap=CAP1, **delta)
    job.run()
    _job(spark, events, tmp_path, **delta).run()
    monkeypatch.setattr(dsink, "is_delta_table", lambda s, p: True)
    at = history(job.log, 1).orderBy("version").collect()[0]["committed_at"]
    modes = {
        "since_version": dict(since_version=0),
        "after": dict(after=at),
        "replay": {},
    }
    got = {
        name: log_reads(
            lambda kw=kw: read_changes(
                spark, job.log, 1, job.target_location, **kw
            )
        )
        for name, kw in modes.items()
    }
    assert got == {name: ONE_SNAPSHOT for name in modes}
