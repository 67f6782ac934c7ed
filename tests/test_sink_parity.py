"""Both lake sinks through the one ``IncrementalIngestJob.run()``
orchestration, case for case. Every case runs on the parquet sink and on
the Delta sink (driven through the parquet-backed fake of the
``ingest.delta_sink`` seam from tests/test_delta_sink.py) and asserts
sink-independent expectations: the same log status sequence and the same
``IngestResult`` status, start/end values and counts.

The last two tests pin that orphan recovery follows the sink that WROTE
the orphaned batch (its STARTED payload), not the current job's sink."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import datalakeingestion_spark.ingest.pipeline as pipeline_mod
from datalakeingestion_spark.config.partition_spec import PartitionSpec
from datalakeingestion_spark.ingest.pipeline import IncrementalIngestJob
from datalakeingestion_spark.ingest.watermark import (
    DATETIME_EPOCH,
    STATUS_LOADED,
    STATUS_NO_DATA,
    STATUS_STARTED,
    STATUS_SUCCESS,
    ExecutionLog,
    bump_watermark,
    delta_commit_payload,
)
from datalakeingestion_spark.sources.fixtures import load_table

from .conftest import SF_SMALL
from .test_delta_sink import fake_delta  # noqa: F401 - fixture

MID = "2024-01-15 00:00:00"
COMMIT = [STATUS_STARTED, STATUS_LOADED, STATUS_SUCCESS]


@pytest.fixture(params=["parquet", "delta"])
def sink_format(request):
    if request.param == "delta":
        request.getfixturevalue("fake_delta")
    return request.param


def _job(spark, tmp_path, sink_format, **kw):
    defaults = dict(
        spark=spark,
        ingestion_id=1,
        delta_field="ts",
        target_location=str(tmp_path / "lake" / "t"),
        log=ExecutionLog(spark, str(tmp_path / "log")),
        sink_format=sink_format,
    )
    defaults.update(kw)
    return IncrementalIngestJob(**defaults)


def _statuses(log):
    return [
        r["execution_status"]
        for r in log.read().orderBy("insert_datetime").collect()
    ]


def _numbers(r):
    return (r.status, r.start_value, r.end_value, r.source_count, r.target_count)


def _ts(value):
    return value.strftime("%Y-%m-%d %H:%M:%S.%f")


def test_coalesce_watermark(spark, tmp_path, sink_format):
    # conservative end_value least(max(modified), max(created)), the
    # capped recount, and validation skipped (target_count stays 0)
    rows = [
        (1, "2024-01-01 00:00:00", None),
        (2, "2024-01-02 00:00:00", "2024-01-05 00:00:00"),
        (3, "2024-01-03 00:00:00", None),
    ]
    src = spark.createDataFrame(rows, ["id", "created_s", "modified_s"]).select(
        "id",
        F.to_timestamp("created_s").alias("created_datetime"),
        F.to_timestamp("modified_s").alias("modified_datetime"),
    )
    job = _job(
        spark, tmp_path, sink_format,
        source=src,
        delta_field="created_datetime",
        delta_expr_cols=("modified_datetime", "created_datetime"),
        end_value_cap="2024-02-01 00:00:00",
    )
    r = job.run()
    assert _numbers(r) == (
        STATUS_SUCCESS,
        "2024-01-01 00:00:00.000000",
        "2024-01-03 00:00:00.000000",
        2,
        0,
    )
    assert _statuses(job.log) == COMMIT
    assert job.log.latest_entry(1, STATUS_LOADED)["source_count"] == 2
    assert job.log.latest_entry(1, STATUS_SUCCESS)["reason_code"] == (
        "validation-skipped"
    )
    lake = spark.read.parquet(job.target_location)
    assert sorted(x["id"] for x in lake.select("id").collect()) == [1, 3]


@pytest.mark.smoke
def test_integer_watermark_partitioned(spark, tmp_path, sink_format):
    src = spark.range(1, 2501).select(
        F.col("id").alias("seq_id"), (F.col("id") % 7).alias("val")
    )
    kw = dict(
        source=src,
        delta_field="seq_id",
        integer_watermark=True,
        partition_spec=PartitionSpec("seq_id", "non-time-based", "1K"),
    )
    job = _job(spark, tmp_path, sink_format, end_value_cap="1000", **kw)
    r1 = job.run()
    r2 = _job(spark, tmp_path, sink_format, log=job.log, **kw).run()
    assert _numbers(r1) == (STATUS_SUCCESS, "1", "1000", 1000, 1000)
    assert _numbers(r2) == (STATUS_SUCCESS, "1001", "2500", 1500, 1500)
    assert _statuses(job.log) == COMMIT * 2
    lake = spark.read.parquet(job.target_location)
    assert lake.count() == 2500
    assert sorted(
        r[0] for r in lake.select("seq_id_part").distinct().collect()
    ) == [0, 1, 2]


def test_no_data_rerun(spark, tmp_path, sink_format):
    events = load_table(spark, SF_SMALL, "events")
    want = (
        events.filter(F.col("ts") <= MID)
        .agg(F.min("ts").alias("mn"), F.max("ts").alias("mx"), F.count("*").alias("n"))
        .first()
    )
    job = _job(spark, tmp_path, sink_format, source=events, end_value_cap=MID)
    r1 = job.run()
    r2 = _job(
        spark, tmp_path, sink_format,
        source=events, log=job.log, end_value_cap=MID,
    ).run()
    assert _numbers(r1) == (
        STATUS_SUCCESS, _ts(want["mn"]), _ts(want["mx"]), want["n"], want["n"]
    )
    assert _numbers(r2) == (
        STATUS_NO_DATA, bump_watermark(r1.end_value, False), "", 0, 0
    )
    assert _statuses(job.log) == COMMIT + [STATUS_STARTED, STATUS_NO_DATA]


def test_maintain_latest(spark, tmp_path, sink_format):
    from datalakeingestion_spark.operators.relational import latest_rows

    events = load_table(spark, SF_SMALL, "events")
    kw = dict(
        source=events,
        maintain_latest=True,
        primary_key=("user_id",),
        latest_tie_breaks=("event_id",),
    )
    job = _job(spark, tmp_path, sink_format, end_value_cap=MID, **kw)
    r1 = job.run()
    r2 = _job(spark, tmp_path, sink_format, log=job.log, **kw).run()
    n1 = events.filter(F.col("ts") <= MID).count()
    assert (r1.status, r1.source_count, r1.target_count) == (
        STATUS_SUCCESS, n1, n1
    )
    n2 = events.count() - n1
    assert (r2.status, r2.source_count, r2.target_count) == (
        STATUS_SUCCESS, n2, n2
    )
    assert r2.start_value > r1.end_value
    assert _statuses(job.log) == COMMIT * 2

    got = {
        r["user_id"]: r["event_id"]
        for r in spark.read.parquet(job.target_location + "__latest").collect()
    }
    want = {
        r["user_id"]: r["event_id"]
        for r in latest_rows(events, ["user_id"], "ts", ["event_id"]).collect()
    }
    assert got == want


def test_parquet_run_never_reads_delta_orphan_as_file_list(
    spark, tmp_path, monkeypatch
):
    """A Delta-era orphan (STARTED "delta-sink", LOADED {"delta_commit":
    N}) met by a parquet-sink run must be recovered the Delta way, which
    needs delta-spark: the run raises before logging anything, and no
    path named after the payload's keys is handed to _delete_files.
    Calls are recorded rather than checked on disk because Hadoop
    resolves a relative path against the JVM's working directory."""
    job = _job(
        spark, tmp_path, "parquet",
        source=load_table(spark, SF_SMALL, "events"),
        end_value_cap=MID,
    )
    job.log.append(
        1, STATUS_STARTED, start_value=DATETIME_EPOCH, reason_code="delta-sink"
    )
    job.log.append(
        1,
        STATUS_LOADED,
        start_value=DATETIME_EPOCH,
        end_value=MID,
        source_count=1,
        reason_code=delta_commit_payload(0),
    )
    deleted = []
    monkeypatch.setattr(
        pipeline_mod, "_delete_files", lambda spark, files: deleted.append(files)
    )
    with pytest.raises(NotImplementedError, match="delta-spark"):
        job.run()
    assert deleted == []
    assert _statuses(job.log) == [STATUS_STARTED, STATUS_LOADED]


def test_delta_run_cleans_parquet_orphan(spark, tmp_path, fake_delta):  # noqa: F811
    """A parquet-era batch that crashed halfway through its file moves,
    met by a Delta-sink run: the moved half and the staging dir are
    deleted the parquet way before the Delta append, so the batch lands
    exactly once."""
    events = load_table(spark, SF_SMALL, "events")
    kw = dict(
        source=events,
        partition_spec=PartitionSpec("ts", "time-based", "YYYYMMDD"),
        end_value_cap=MID,
    )
    job = _job(spark, tmp_path, "parquet", **kw)
    real_move = pipeline_mod._move_files

    def half_move(sp, moves):
        real_move(sp, moves[: len(moves) // 2])
        raise RuntimeError("injected: mid move")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline_mod, "_move_files", half_move)
        with pytest.raises(RuntimeError, match="injected"):
            job.run()

    r = _job(spark, tmp_path, "delta", log=job.log, **kw).run()
    n = events.filter(F.col("ts") <= MID).count()
    assert (r.status, r.source_count, r.target_count) == (STATUS_SUCCESS, n, n)
    assert spark.read.parquet(job.target_location).count() == n
    assert not [
        d for d in os.listdir(job.target_location) if d.startswith(".staging-")
    ]
    markers = job.log.read().filter(
        F.col("reason_code") == "orphaned-batch-cleaned"
    )
    assert markers.count() == 1
