"""Pipeline-level golden tests (SURVEY.md §5): incremental append over split
fixture data must equal a full load; watermark advances across runs; the
latest-row view over the lake equals latest_rows over the source; rollback
on validation failure.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from datalakeingestion_spark.config.partition_spec import PartitionSpec
from datalakeingestion_spark.ingest.pipeline import IncrementalIngestJob
from datalakeingestion_spark.ingest.views import latest_view_sql, register_latest_view
from datalakeingestion_spark.ingest.watermark import (
    STATUS_FAILED,
    STATUS_LOADED,
    STATUS_NO_DATA,
    STATUS_STARTED,
    STATUS_SUCCESS,
    STATUS_VALIDATION_FAILURE,
    ExecutionLog,
)
from datalakeingestion_spark.sources.fixtures import load_table

from .conftest import SF_SMALL

# sf0.001 events span 2024-01-01 .. 2024-01-30; split mid-month
MID = "2024-01-15 00:00:00"


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


@pytest.mark.smoke
def test_two_run_incremental_equals_full_load(spark, events, tmp_path):
    job = _job(spark, events, tmp_path, end_value_cap=MID)
    r1 = job.run()
    assert r1.status == STATUS_SUCCESS
    assert r1.source_count == events.filter(F.col("ts") <= MID).count()
    assert r1.files  # written-file tracking for rollback

    # run 2: open-ended from the bumped watermark
    job2 = _job(spark, events, tmp_path)
    r2 = job2.run()
    assert r2.status == STATUS_SUCCESS
    assert r1.source_count + r2.source_count == events.count()

    lake = spark.read.parquet(job.target_location)
    assert lake.count() == events.count()
    # partition column materialized + hive layout on disk
    assert "ts_part" in lake.columns
    assert any("ts_part=2024" in f for f in r1.files)

    # run 3: nothing new → no-data, no files written
    r3 = _job(spark, events, tmp_path).run()
    assert r3.status == STATUS_NO_DATA


def test_watermark_advances_not_rereads(spark, events, tmp_path):
    job = _job(spark, events, tmp_path, end_value_cap=MID)
    r1 = job.run()
    r2 = _job(spark, events, tmp_path).run()
    # second run starts strictly after first run's end (the +1s bump)
    assert r2.start_value > r1.end_value
    lake = spark.read.parquet(job.target_location)
    assert lake.select("event_id").distinct().count() == lake.count()


def test_latest_view_matches_source_latest(spark, events, tmp_path):
    _job(spark, events, tmp_path).run()
    view = register_latest_view(
        spark,
        "events_lv",
        str(tmp_path / "lake" / "events"),
        ["user_id"],
        "ts",
        tie_breaks=["event_id"],
    )
    from datalakeingestion_spark.operators.relational import latest_rows

    expected = latest_rows(events, ["user_id"], "ts", ["event_id"])
    got = {r["user_id"]: r["event_id"] for r in view.collect()}
    want = {r["user_id"]: r["event_id"] for r in expected.collect()}
    assert got == want
    assert spark.sql("SELECT count(*) FROM events_lv").first()[0] == len(want)


def test_validation_failure_rolls_back(spark, events, tmp_path):
    # Pre-seed the lake with rows inside the run's delta range → lake count
    # under the predicate exceeds the source count → rollback (T5).
    target = str(tmp_path / "lake" / "events")
    seed = events.filter(F.col("ts") <= MID).limit(7)
    spec = PartitionSpec("ts", "time-based", "YYYYMM")
    spec.derive(seed).write.partitionBy("ts_part").parquet(target)
    before = set(
        f for f in __import__("glob").glob(target + "/**/*.parquet", recursive=True)
    )

    job = _job(spark, events, tmp_path, end_value_cap=MID)
    r = job.run()
    assert r.status == STATUS_VALIDATION_FAILURE
    # this run's files were deleted; the pre-existing lake survives
    after = set(
        f for f in __import__("glob").glob(target + "/**/*.parquet", recursive=True)
    )
    assert after == before
    # log carries the written-file list as reason_code (reference quirk)
    loaded = job.log.latest_entry(1, "data-loaded-to-s3")
    assert json.loads(loaded["reason_code"]) == r.files


def test_integer_watermark_pipeline(spark, tmp_path):
    src = spark.range(1, 2501).select(
        F.col("id").alias("seq_id"), (F.col("id") % 7).alias("val")
    )
    job = IncrementalIngestJob(
        spark=spark,
        ingestion_id=9,
        source=src,
        delta_field="seq_id",
        integer_watermark=True,
        target_location=str(tmp_path / "lake" / "ints"),
        log=ExecutionLog(spark, str(tmp_path / "log")),
        partition_spec=PartitionSpec("seq_id", "non-time-based", "1K"),
        end_value_cap="1000",
    )
    r1 = job.run()
    assert (r1.start_value, r1.end_value, r1.source_count) == ("1", "1000", 1000)
    job2 = IncrementalIngestJob(**{**job.__dict__, "end_value_cap": None})
    r2 = job2.run()
    assert r2.start_value == "1001" and r2.source_count == 1500
    lake = spark.read.parquet(job.target_location)
    assert lake.count() == 2500
    assert sorted(
        r[0] for r in lake.select("seq_id_part").distinct().collect()
    ) == [0, 1, 2]


def test_coalesce_watermark_quirks(spark, tmp_path):
    # modified col null for some rows; end_value must be the conservative
    # min(max(modified), max(created)) (reference ingest_mysql_data.py:281-282)
    rows = [
        (1, "2024-01-01 00:00:00", None),
        (2, "2024-01-02 00:00:00", "2024-01-05 00:00:00"),
        (3, "2024-01-03 00:00:00", None),
    ]
    src = (
        spark.createDataFrame(rows, ["id", "created_s", "modified_s"])
        .withColumn("created_datetime", F.to_timestamp("created_s"))
        .withColumn("modified_datetime", F.to_timestamp("modified_s"))
        .drop("created_s", "modified_s")
    )
    job = IncrementalIngestJob(
        spark=spark,
        ingestion_id=5,
        source=src,
        delta_field="created_datetime",
        delta_expr_cols=("modified_datetime", "created_datetime"),
        target_location=str(tmp_path / "lake" / "co"),
        log=ExecutionLog(spark, str(tmp_path / "log")),
        end_value_cap="2024-02-01 00:00:00",
    )
    r = job.run()
    assert r.status == STATUS_SUCCESS
    # max(modified)=01-05, max(created)=01-03 → least = 01-03; timestamp
    # end_values always carry the µs fraction (ADVICE r1: exact-second
    # maxima must not fall back to the +1s bump)
    assert r.end_value == "2024-01-03 00:00:00.000000"
    # row 2's coalesce delta (modified=01-05) exceeds the conservative
    # end_value, so it is excluded from this batch AND from source_count
    # (ADVICE r2: the LOADED row must count exactly the rows the commit
    # lists, not the pre-cap frame)
    assert r.source_count == 2
    lake = spark.read.parquet(str(tmp_path / "lake" / "co"))
    assert lake.count() == 2
    assert sorted(x["id"] for x in lake.select("id").collect()) == [1, 3]
    # validation skipped for expr watermarks (reference parity)
    assert job.log.latest_entry(5, STATUS_SUCCESS)["reason_code"] == (
        "validation-skipped"
    )


def test_run_groups_sibling_survives_mid_commit_crash(
    spark, events, tmp_path, monkeypatch
):
    """Multi-table isolation under run_groups (reference
    start_ingestion.py:456-465 + T5): one table's job dies MID-COMMIT
    (after the LOADED log row, before the staged files move); sibling
    tables must commit normally, and the dead table must resume
    exactly-once on the next run — orphaned staging cleaned, no
    duplicate rows, no lost rows."""
    import datalakeingestion_spark.ingest.pipeline as pl
    from datalakeingestion_spark.config.control import CONTROL_SCHEMA
    from datalakeingestion_spark.runner import run_groups

    src1 = str(tmp_path / "src1")
    src2 = str(tmp_path / "src2")
    events.write.parquet(src1)
    events.write.parquet(src2)

    def control_row(rid, src, tname):
        return (
            rid, "parquet-table", src, "db1", tname, "ts", "", 0, 1, "NULL",
            "c", "g", "s3", str(tmp_path / "lake" / tname), "", "vdb",
            f"{tname}_lv", 0, "()", "dag_a", "2024-01-01",
        )

    control = spark.createDataFrame(
        [control_row(1, src1, "t1"), control_row(2, src2, "t2")],
        CONTROL_SCHEMA,
    )

    crashed = {"done": False}
    orig_move = pl._move_files

    def crashy_move(s, moves):
        # die HALFWAY through t2's move — the worst crash point: some
        # final files live, the rest still staged, LOADED already logged
        if not crashed["done"] and any("/t2/" in dst for _, dst in moves):
            crashed["done"] = True
            orig_move(s, moves[: max(1, len(moves) // 2)])
            raise RuntimeError("simulated crash mid-move (t2)")
        return orig_move(s, moves)

    monkeypatch.setattr(pl, "_move_files", crashy_move)

    rep1 = run_groups(
        spark, control, str(tmp_path / "state"), register_views=False,
    )
    assert rep1.results[1].status == STATUS_SUCCESS
    assert rep1.results[2].status == STATUS_FAILED
    # sibling committed in full despite t2's crash
    lake1 = spark.read.parquet(str(tmp_path / "lake" / "t1"))
    assert lake1.count() == events.count()

    # next run: t2 cleans its orphaned batch and lands exactly one copy;
    # t1 sees no new rows past its advanced watermark
    rep2 = run_groups(
        spark, control, str(tmp_path / "state"), register_views=False,
    )
    assert rep2.results[2].status == STATUS_SUCCESS
    assert rep2.results[1].status == STATUS_NO_DATA
    lake2 = spark.read.parquet(str(tmp_path / "lake" / "t2"))
    assert lake2.count() == events.count()
    assert lake2.groupBy("event_id").count().filter("count > 1").count() == 0
    assert lake1.count() == events.count()  # t1 untouched by run 2
    # the crash window is recorded: t2's log shows the cleaned orphan
    log = ExecutionLog(spark, str(tmp_path / "state"))
    reasons = [
        r["reason_code"]
        for r in log.read()
        .filter(F.col("lake_ingestion_id") == 2)
        .collect()
    ]
    assert any("orphaned-batch-cleaned" in (c or "") for c in reasons)


def test_latest_view_sql_shape():
    sql = latest_view_sql("t_lv", "lake.t", ["id"], "modified_datetime")
    assert "row_number() OVER (PARTITION BY id" in sql
    assert "WHERE row_num = 1" in sql


def test_maintained_latest_zone(spark, events, tmp_path):
    """maintain_latest keeps the materialized latest table in sync across
    incremental runs — equal to the view computed over the full lake."""
    from datalakeingestion_spark.operators.relational import latest_rows

    job1 = _job(
        spark, events, tmp_path,
        end_value_cap=MID,
        maintain_latest=True,
        primary_key=("user_id",),
        latest_tie_breaks=("event_id",),
    )
    assert job1.run().status == STATUS_SUCCESS
    job2 = _job(
        spark, events, tmp_path,
        maintain_latest=True,
        primary_key=("user_id",),
        latest_tie_breaks=("event_id",),
    )
    assert job2.run().status == STATUS_SUCCESS

    latest = spark.read.parquet(str(tmp_path / "lake" / "events__latest"))
    got = {r["user_id"]: r["event_id"] for r in latest.collect()}
    want = {
        r["user_id"]: r["event_id"]
        for r in latest_rows(events, ["user_id"], "ts", ["event_id"]).collect()
    }
    assert got == want
    # the latest zone excludes the derived partition column
    assert "ts_part" not in latest.columns


def test_orphaned_loaded_batch_cleaned(spark, events, tmp_path):
    """ADVICE r1 (medium): crash between the parquet append and the SUCCESS
    log row leaves orphaned files + a trailing LOADED record. The next run
    must delete the orphaned batch up front, or validation fails forever
    (lake count > source count in the re-pulled window)."""
    import os

    job = _job(spark, events, tmp_path, end_value_cap=MID)
    assert job.run().status == STATUS_SUCCESS

    # simulate the crash exactly as the protocol would leave it: a fresh
    # STARTED row (staging path), a LOADED row listing the moved file,
    # the moved file on disk — and no closing SUCCESS
    orphan_dir = os.path.join(job.target_location, "ts_part=209901")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"orphaned bytes")
    job.log.append(
        1,
        STATUS_STARTED,
        start_value="2024-01-15 00:00:01.000000",
        reason_code=job._staging_dir("deadbeef"),
    )
    job.log.append(
        1,
        STATUS_LOADED,
        start_value="2024-01-15 00:00:01.000000",
        end_value="2099-01-01 00:00:00.000000",
        source_count=1,
        reason_code=json.dumps([orphan]),
    )

    r2 = _job(spark, events, tmp_path).run()
    assert not os.path.exists(orphan)
    assert r2.status == STATUS_SUCCESS  # not a validation failure
    cleanup = job.log.latest_entry(1, STATUS_FAILED)
    assert cleanup["reason_code"] == "orphaned-batch-cleaned"
    # lake holds exactly the source rows — no duplicates, no orphans
    lake = spark.read.parquet(job.target_location)
    assert lake.select("event_id").distinct().count() == events.count()


def test_exact_second_max_bumps_by_microsecond(spark, tmp_path):
    """ADVICE r1 (medium): a batch max landing on an exact second must
    still store the .000000 fraction so the next watermark advances +1µs,
    not +1s — rows committed inside that second are not skipped."""
    rows = [(1, "2024-01-01 00:00:05.000000"), (2, "2024-01-01 00:00:05.500000")]
    src = spark.createDataFrame(rows, ["id", "ts_s"]).select(
        "id", F.to_timestamp("ts_s").alias("ts")
    )
    job = IncrementalIngestJob(
        spark=spark,
        ingestion_id=3,
        source=src,
        delta_field="ts",
        target_location=str(tmp_path / "lake" / "us"),
        log=ExecutionLog(spark, str(tmp_path / "log")),
        end_value_cap="2024-01-01 00:00:05",
    )
    r1 = job.run()
    assert (r1.source_count, r1.end_value) == (1, "2024-01-01 00:00:05.000000")
    r2 = IncrementalIngestJob(**{**job.__dict__, "end_value_cap": None}).run()
    # the +1s bump would have started at :06 and skipped row 2 forever
    assert r2.source_count == 1
    assert r2.start_value == "2024-01-01 00:00:05.500000"


def test_orphaned_staging_cleaned_on_started_crash(spark, events, tmp_path):
    """Crash BEFORE the LOADED record (trailing STARTED): the staging dir
    recorded in the STARTED row is deleted; nothing ever reached the lake
    (dot-prefixed staging is invisible to readers), so no validation debt."""
    import os

    job = _job(spark, events, tmp_path, end_value_cap=MID)
    assert job.run().status == STATUS_SUCCESS

    staging = job.target_location.rstrip("/") + "/.staging-deadbeef"
    os.makedirs(staging)
    with open(os.path.join(staging, "part-crash.parquet"), "wb") as f:
        f.write(b"partial write")
    job.log.append(
        1, "started", start_value="2024-01-15 00:00:01.000000",
        reason_code=staging,
    )
    # staging files are invisible to lake readers even before cleanup
    lake_before = spark.read.parquet(job.target_location).count()

    r2 = _job(spark, events, tmp_path).run()
    assert r2.status == STATUS_SUCCESS
    assert not os.path.exists(staging)
    cleanup = job.log.read().filter(
        F.col("reason_code") == "orphaned-staging-cleaned"
    )
    assert cleanup.count() == 1
    lake = spark.read.parquet(job.target_location)
    assert lake.count() == lake_before + r2.source_count
    assert lake.select("event_id").distinct().count() == events.count()


def test_run_windows_terminates_on_exact_boundary_max(spark, tmp_path):
    """Batch max landing exactly on `until` must not loop forever: the
    resolved watermark (max + 1µs) compares with full precision against
    the window end, and empty-window records carry the µs fraction too."""
    rows = [
        (1, "2024-01-10 00:00:00"),
        (2, "2024-01-12 00:00:00"),  # == until
        (3, "2024-01-12 08:00:00"),  # after until
    ]
    src = spark.createDataFrame(rows, ["id", "ts_s"]).select(
        "id", F.to_timestamp("ts_s").alias("ts")
    )
    job = IncrementalIngestJob(
        spark=spark,
        ingestion_id=11,
        source=src,
        delta_field="ts",
        target_location=str(tmp_path / "lake" / "b"),
        log=ExecutionLog(spark, str(tmp_path / "log")),
    )
    results = job.run_windows("2024-01-12 00:00:00", window_hours=24 * 5)
    assert sum(r.source_count for r in results) == 2
    # caught up: re-running ingests nothing and terminates
    again = job.run_windows("2024-01-12 00:00:00", window_hours=24 * 5)
    assert all(r.source_count == 0 for r in again)
    # the row after `until` is picked up by a later horizon, not lost
    more = job.run_windows("2024-02-01 00:00:00", window_hours=24 * 5)
    assert sum(r.source_count for r in more) == 1


def test_windowed_voluminous_mode(spark, events, tmp_path):
    """Serial window loop (reference T2): repeated capped runs until caught
    up; union of windows == full load, one success record per window."""
    job = _job(spark, events, tmp_path)
    results = job.run_windows("2024-01-30 23:59:59", window_hours=24 * 10)
    ingested = sum(r.source_count for r in results)
    assert ingested == events.filter(F.col("ts") <= "2024-01-30 23:59:59").count()
    assert len([r for r in results if r.source_count > 0]) >= 3  # 30 days / 10
    lake = spark.read.parquet(job.target_location)
    assert lake.select("event_id").distinct().count() == ingested

    # re-run: already caught up → at most empty windows, no duplicates
    again = job.run_windows("2024-01-30 23:59:59", window_hours=24 * 10)
    assert all(r.source_count == 0 for r in again)
    assert spark.read.parquet(job.target_location).count() == ingested


def test_run_windows_takes_one_log_snapshot_per_window(
    spark, events, tmp_path, monkeypatch
):
    """Each window's watermark resolution and its run() share one
    ``ExecutionLog.id_rows`` snapshot; the loop's last check takes one
    more."""
    snapshots = []
    id_rows = ExecutionLog.id_rows

    def counted_id_rows(self, ingestion_id):
        snapshots.append(ingestion_id)
        return id_rows(self, ingestion_id)

    monkeypatch.setattr(ExecutionLog, "id_rows", counted_id_rows)
    job = _job(spark, events, tmp_path)
    results = job.run_windows("2024-01-30 23:59:59", window_hours=24 * 6)
    assert len(results) == 5
    assert all(r.status == STATUS_SUCCESS for r in results)
    assert len(snapshots) <= len(results) + 1


def test_file_uri_target_commits_and_reruns(spark, events, tmp_path):
    """A target given as ``file:///x`` lists its staged files as
    ``file:/x/...``; the staged commit must still place every file."""
    import os

    from datalakeingestion_spark.ingest.watermark import committed_files, norm_uri

    lake = tmp_path / "lake" / "events"
    job = _job(spark, events, tmp_path, target_location=f"file://{lake}",
               end_value_cap=MID)
    r1 = job.run()
    assert r1.status == STATUS_SUCCESS
    loaded = job.log.read().filter(F.col("execution_status") == STATUS_LOADED)
    logged = committed_files(loaded.collect()[0]["reason_code"])
    on_disk = sorted(
        f"file:{os.path.join(d, n)}"
        for d, dirs, names in os.walk(lake)
        for n in names
        if n.endswith(".parquet")
    )
    assert sorted(norm_uri(f) for f in logged) == on_disk
    assert sorted(norm_uri(f) for f in r1.files) == on_disk
    assert not any(n.startswith(".staging-") for n in os.listdir(lake))
    assert spark.read.parquet(job.target_location).count() == r1.source_count

    assert job.run().status == STATUS_NO_DATA
    statuses = [r["execution_status"] for r in job.log.id_rows(1)]
    assert statuses.count(STATUS_NO_DATA) == 1


def test_windowed_mode_microsecond_until_ingests_tail(spark, events, tmp_path):
    """A sub-second `until` (e.g. now()) must not be truncated to the
    second when capping the final window: the old strftime('%S') cap fell
    BELOW the running watermark, so rows in the fractional tail were
    skipped and the empty-window record re-resolved the same start
    forever. Build a source whose max row sits inside that tail."""
    base = events.filter(F.col("ts") <= "2024-01-05 00:00:00").select(
        "event_id", "user_id", "ts"
    )
    tail = spark.createDataFrame(
        [(999_999, 1)], "event_id long, user_id long"
    ).select(
        "event_id",
        "user_id",
        F.lit("2024-01-06 12:00:00.300000").cast("timestamp").alias("ts"),
    )
    src = base.unionByName(tail)
    job = _job(spark, src, tmp_path)
    results = job.run_windows("2024-01-06 12:00:00.500000", window_hours=24 * 10)
    ingested = sum(r.source_count for r in results)
    assert ingested == src.count()  # the .3s tail row IS pulled
    lake = spark.read.parquet(job.target_location)
    assert lake.filter(F.col("event_id") == 999_999).count() == 1

    # caught up: re-running terminates with no new data
    again = job.run_windows("2024-01-06 12:00:00.500000", window_hours=24 * 10)
    assert all(r.source_count == 0 for r in again)


def test_schema_evolution_read_lake(spark, events, tmp_path):
    """A source that grows a column mid-history: batch 1 without it,
    batch 2 with it. read_lake (mergeSchema) surfaces the union schema —
    old rows NULL — while a single-footer read can silently drop the
    late column depending on which file wins."""
    from datalakeingestion_spark.ingest.pipeline import read_lake

    r1 = _job(spark, events, tmp_path, end_value_cap=MID).run()
    assert r1.status == STATUS_SUCCESS

    evolved = events.withColumn(
        "quality", F.round(F.col("value") * 2, 3)
    )
    r2 = _job(spark, evolved, tmp_path).run()
    assert r2.status == STATUS_SUCCESS and r2.source_count > 0

    lake = read_lake(spark, str(tmp_path / "lake" / "events"))
    assert "quality" in lake.columns
    assert lake.count() == events.count()
    # batch-1 rows: NULL quality; batch-2 rows: populated
    assert lake.filter(F.col("quality").isNull()).count() == r1.source_count
    assert lake.filter(F.col("quality").isNotNull()).count() == r2.source_count


def test_source_growth_after_observed_write_not_duplicated(
    spark, events, tmp_path, monkeypatch
):
    """A live source that commits rows (with later delta values) after the
    batch's one scan: they must NOT count toward this batch — the
    watermark only advances to the observed max, so the LOADED row must
    describe exactly the rows written. They belong to, and arrive exactly
    once in, the NEXT batch.

    NOTE: parquet sources freeze their file listing at DataFrame
    creation, so this file-based variant mostly documents the intended
    semantics; the LIVE reproduction (where each action re-executes the
    source query) is tests/test_jdbc.py::
    test_live_source_growth_after_observed_write."""
    early = events.filter(F.col("ts") <= MID)
    late = events.filter(F.col("ts") > MID)
    src = str(tmp_path / "growing_src")
    early.write.parquet(src)

    source = spark.read.schema(events.schema).option(
        "basePath", src
    ).parquet(src)
    grown = {"done": False}
    orig = ExecutionLog.append

    def append_then_grow(self, ingestion_id, status, *args, **kwargs):
        out = orig(self, ingestion_id, status, *args, **kwargs)
        if status == STATUS_LOADED and not grown["done"]:
            # the "live source" commits more rows right after the write
            late.write.mode("append").parquet(src)
            # drop the cached file listing so any later action re-lists —
            # which is what every action against a real JDBC source does
            spark.catalog.refreshByPath(src)
            grown["done"] = True
        return out

    monkeypatch.setattr(ExecutionLog, "append", append_then_grow)

    r1 = _job(spark, source, tmp_path).run()
    assert grown["done"]
    assert r1.status == STATUS_SUCCESS and r1.source_count == early.count()
    target = str(tmp_path / "lake" / "events")
    lake = spark.read.parquet(target)
    # nothing past the observed max leaked into the first batch
    assert lake.count() == early.count()
    assert lake.filter(F.col("ts") > MID).count() == 0

    # next run (fresh source frame, as a new job would build) ingests the
    # late rows exactly once — no duplicates ever
    source2 = spark.read.schema(events.schema).option("basePath", src).parquet(src)
    r2 = _job(spark, source2, tmp_path).run()
    assert r2.status == STATUS_SUCCESS and r2.source_count == late.count()
    lake = spark.read.parquet(target)
    assert lake.count() == events.count()
    assert lake.groupBy("event_id").count().filter("count > 1").count() == 0


# ---------------------------------------------------------------------------
# One source scan: the observed write, the no-op probe, the listing
# ---------------------------------------------------------------------------


def _loaded_bounds(log, ingestion_id):
    (row,) = [
        r for r in log.id_rows(ingestion_id)
        if r["execution_status"] == STATUS_LOADED
    ]
    return row["start_value"], row["end_value"], row["source_count"]


@pytest.mark.parametrize("kind", ["integer", "exact_second_ts", "date"])
def test_observed_bounds_equal_the_bounds_aggregate(spark, tmp_path, kind):
    """The LOADED row's start/end/count, observed during the write, are
    the strings the separate ``_bounds`` aggregate gives for the same
    frame: integers, µs timestamps that land on a whole second (the
    fraction is still written as .000000), and dates (bare format)."""
    import datetime as dt

    from datalakeingestion_spark.ingest.watermark import (
        DATETIME_EPOCH,
        INTEGER_EPOCH,
    )

    rows = [(i, dt.datetime(2024, 1, 1 + i, 10, 0, 0), dt.date(2024, 2, 1 + i))
            for i in range(1, 6)]
    source = spark.createDataFrame(rows, "id long, ts timestamp, d date")
    field, integer, start = {
        "integer": ("id", True, INTEGER_EPOCH),
        "exact_second_ts": ("ts", False, DATETIME_EPOCH),
        "date": ("d", False, DATETIME_EPOCH),
    }[kind]
    job = _job(spark, source, tmp_path, delta_field=field,
               integer_watermark=integer, partition_spec=None)
    r = job.run()
    assert r.status == STATUS_SUCCESS and r.target_count == 5
    expected = job._bounds(job._delta_frame(start))
    assert _loaded_bounds(job.log, 1) == expected
    assert (r.start_value, r.end_value, r.source_count) == expected
    assert {
        "integer": ("1", "5", 5),
        "exact_second_ts": (
            "2024-01-02 10:00:00.000000", "2024-01-06 10:00:00.000000", 5
        ),
        "date": ("2024-02-02 00:00:00", "2024-02-06 00:00:00", 5),
    }[kind] == expected


def test_noop_run_stages_nothing(spark, events, tmp_path):
    """A run with no new rows logs NO_DATA without writing: no staging
    dir, no new lake file, and the commit history is unchanged. An empty
    source's first run does not even create the lake dir."""
    import os

    from datalakeingestion_spark.ingest.pipeline import _list_files
    from datalakeingestion_spark.ingest.timetravel import history

    job = _job(spark, events, tmp_path)
    assert job.run().status == STATUS_SUCCESS
    files = _list_files(spark, job.target_location)
    commits = history(job.log, 1).collect()
    r = _job(spark, events, tmp_path).run()
    assert r.status == STATUS_NO_DATA
    assert not any(
        n.startswith(".staging-") for n in os.listdir(job.target_location)
    )
    assert _list_files(spark, job.target_location) == files
    assert history(job.log, 1).collect() == commits
    assert job.log.id_rows(1) and max(
        job.log.id_rows(1), key=lambda row: row["insert_datetime"]
    )["execution_status"] == STATUS_NO_DATA

    empty = _job(spark, events.limit(0), tmp_path, ingestion_id=2,
                 target_location=str(tmp_path / "lake" / "empty"))
    assert empty.run().status == STATUS_NO_DATA
    assert not os.path.exists(empty.target_location)


def _list_files_recursive(spark, path):
    """The listing ``_list_files`` replaced: ``listFiles(recursive)``."""
    from datalakeingestion_spark.ingest.merge import _fs

    _, fs, p = _fs(spark, path)
    out, it = set(), fs.listFiles(p, True)
    while it.hasNext():
        name = it.next().getPath().toString()
        if not name.endswith("_SUCCESS"):
            out.add(name)
    return out


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_list_files_matches_recursive_listing(spark, events, tmp_path, scheme):
    """One listStatus per directory finds exactly the files, and the
    fully-qualified names, that ``listFiles(recursive)`` found: on a
    partitioned staging tree, under a bare path and a ``file:///`` one."""
    from datalakeingestion_spark.ingest.pipeline import _list_files

    staging = f"{scheme}{tmp_path}/lake/.staging-x"
    (
        PartitionSpec("ts", "time-based", "YYYYMMDD")
        .derive(events)
        .write.partitionBy("ts_part")
        .parquet(staging)
    )
    got = _list_files(spark, staging)
    assert len(got) > 10 and all("ts_part=" in f for f in got)
    assert got == _list_files_recursive(spark, staging)
    assert _list_files(spark, f"{scheme}{tmp_path}/missing") == set()
