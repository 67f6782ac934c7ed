"""Delta-sink seam tests (package-gated — delta-spark does NOT ship in
this container, so the tests cover: the gate itself, the pure statement
builders, and the `_run_delta` orchestration end-to-end against a
parquet-backed fake of the seam functions (log-row ordering, watermark
advancement, validation RESTORE). The real Delta IO is one-line
delegations to the public delta-spark API and runs only on clusters."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from datalakeingestion_spark.ingest import delta_sink as dsink
from datalakeingestion_spark.ingest.pipeline import IncrementalIngestJob
from datalakeingestion_spark.ingest.watermark import (
    STATUS_LOADED,
    STATUS_NO_DATA,
    STATUS_STARTED,
    STATUS_SUCCESS,
    STATUS_VALIDATION_FAILURE,
    ExecutionLog,
    resolve_watermark,
)
from datalakeingestion_spark.sources.fixtures import load_table

from .conftest import SF_SMALL

MID = "2024-01-15 00:00:00"


# ---------------------------------------------------------------------------
# the gate
# ---------------------------------------------------------------------------


@pytest.mark.smoke
def test_delta_not_available_here():
    # this container ships no delta-spark: the fallback paths below are
    # the tested ones, and is_delta_table must short-circuit False
    assert not dsink.delta_available()


def test_is_delta_table_false_without_package(spark, tmp_path):
    spark.range(3).write.parquet(str(tmp_path / "t"))
    assert dsink.is_delta_table(spark, str(tmp_path / "t")) is False


def test_gated_functions_raise_loudly(spark, tmp_path):
    with pytest.raises(NotImplementedError, match="delta-spark"):
        dsink.append_delta(spark.range(1), str(tmp_path / "d"))
    with pytest.raises(NotImplementedError, match="delta-spark"):
        dsink.vacuum_delta(spark, str(tmp_path / "d"))


def test_delta_job_raises_before_burning_log_rows(spark, tmp_path):
    log = ExecutionLog(spark, str(tmp_path / "log"))
    job = IncrementalIngestJob(
        spark=spark,
        ingestion_id=1,
        source=load_table(spark, SF_SMALL, "events"),
        delta_field="ts",
        target_location=str(tmp_path / "lake"),
        log=log,
        sink_format="delta",
    )
    with pytest.raises(NotImplementedError, match="delta-spark"):
        job.run()
    # the gate fired BEFORE the STARTED row: retries must not litter the log
    assert log.read().count() == 0


def test_unknown_sink_format_rejected(spark, tmp_path):
    job = IncrementalIngestJob(
        spark=spark,
        ingestion_id=1,
        source=load_table(spark, SF_SMALL, "events"),
        delta_field="ts",
        target_location=str(tmp_path / "lake"),
        log=ExecutionLog(spark, str(tmp_path / "log")),
        sink_format="iceberg",
    )
    with pytest.raises(ValueError, match="sink_format"):
        job.run()


# ---------------------------------------------------------------------------
# pure statement builders (codegen parity — testable without the package)
# ---------------------------------------------------------------------------


def test_merge_condition_text():
    assert dsink.merge_latest_condition(["id"]) == "t.id <=> s.id"
    assert (
        dsink.merge_latest_condition(["a", "b"])
        == "t.a <=> s.a AND t.b <=> s.b"
    )
    with pytest.raises(ValueError):
        dsink.merge_latest_condition([])


def test_merge_update_condition_is_lexicographic():
    assert dsink.merge_latest_update_condition("ts") == "(s.ts > t.ts)"
    got = dsink.merge_latest_update_condition("ts", ["seq"])
    assert got == "(s.ts > t.ts) OR (s.ts <=> t.ts AND s.seq > t.seq)"


def test_merge_update_condition_matches_fallback_winner_rule(spark):
    """The SQL text must pick the same winner as the parquet fallback's
    struct comparison (ingest/merge.py) on every ordering case, nulls
    included — evaluated as a real Spark expression over a cross of
    source/target candidates."""
    rows = [
        (1, 1, None, None),
        (1, 2, None, None),
        (2, 1, None, None),
        (1, 1, 1, 2),
        (1, 1, 2, 1),
        (1, 1, None, 1),
        (1, 1, 1, None),
        (None, 1, 1, 1),
        (1, None, 1, 1),
    ]
    df = spark.createDataFrame(
        rows, "s_ts int, t_ts int, s_seq int, t_seq int"
    )
    cond = dsink.merge_latest_update_condition("ts", ["seq"]).replace(
        "s.", "s_"
    ).replace("t.", "t_")
    got = [r["u"] for r in df.select(F.expr(cond).alias("u")).collect()]
    # fallback rule: source wins iff (s_ts, s_seq) > (t_ts, t_seq)
    # lexicographically with SQL comparison semantics (NULL > x is
    # NULL → no update; equality uses null-safe <=>)
    def want(s_ts, t_ts, s_seq, t_seq):
        first = None if (s_ts is None or t_ts is None) else s_ts > t_ts
        if first:
            return True
        eq = s_ts == t_ts or (s_ts is None and t_ts is None)
        second = None if (s_seq is None or t_seq is None) else s_seq > t_seq
        if eq and second:
            return True
        return False if (first is False or first is None) or eq else None

    for (s_ts, t_ts, s_seq, t_seq), g in zip(rows, got):
        w = want(s_ts, t_ts, s_seq, t_seq)
        assert bool(g) == bool(w), (s_ts, t_ts, s_seq, t_seq, g, w)


def test_restore_and_optimize_statements():
    assert (
        dsink.restore_statement("/lake/t", 7)
        == "RESTORE TABLE delta.`/lake/t` TO VERSION AS OF 7"
    )
    assert dsink.optimize_statement("/lake/t") == "OPTIMIZE delta.`/lake/t`"
    assert (
        dsink.optimize_statement("/lake/t", ["a", "b"])
        == "OPTIMIZE delta.`/lake/t` ZORDER BY (a, b)"
    )


# ---------------------------------------------------------------------------
# _run_delta orchestration against a parquet-backed fake of the seam
# ---------------------------------------------------------------------------


class _FakeDelta:
    """Parquet-backed stand-in for the delta_sink seam: append_delta is
    a parquet append that also records the commit's file set, so
    table_version / restore_version / read_changes_delta behave like a
    (linear-history) transaction log. This exercises every line of
    _run_delta except the one-line delegations to the real API."""

    def __init__(self, spark):
        self.spark = spark
        self.commits: dict[str, list[set[str]]] = {}
        self.restored: list[tuple[str, int]] = []

    def _files(self, path):
        from datalakeingestion_spark.ingest.pipeline import _list_files

        return _list_files(self.spark, path)

    def append_delta(self, df, path, partition_col=None):
        before = self._files(path)
        writer = df.write.mode("append").option("compression", "snappy")
        if partition_col is not None:
            writer = writer.partitionBy(partition_col)
        writer.parquet(path)
        self.commits.setdefault(path, []).append(self._files(path) - before)

    def table_version(self, spark, path):
        n = len(self.commits.get(path, []))
        return None if n == 0 else n - 1

    def read_delta(self, spark, path, version=None, as_of=None):
        return spark.read.parquet(path)

    def restore_version(self, spark, path, version):
        from datalakeingestion_spark.ingest.pipeline import _delete_files

        self.restored.append((path, version))
        for commit in self.commits[path][version + 1 :]:
            _delete_files(spark, commit)
        self.commits[path] = self.commits[path][: version + 1]

    def read_changes_delta(self, spark, path, since_version):
        files = set()
        for commit in self.commits[path][since_version + 1 :]:
            files |= commit
        return (
            spark.read.parquet(*sorted(files))
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(since_version + 1))
            .withColumn("_commit_timestamp", F.current_timestamp())
        )

    def merge_latest_delta(
        self, spark, path, batch, primary_key, order_col, tie_breaks=None
    ):
        from datalakeingestion_spark.ingest.merge import merge_latest

        merge_latest(spark, path, batch, primary_key, order_col, tie_breaks)


@pytest.fixture()
def fake_delta(spark, monkeypatch):
    fake = _FakeDelta(spark)
    monkeypatch.setattr(dsink, "require_delta", lambda feature: None)
    for name in (
        "append_delta",
        "table_version",
        "read_delta",
        "restore_version",
        "read_changes_delta",
        "merge_latest_delta",
    ):
        monkeypatch.setattr(dsink, name, getattr(fake, name))
    return fake


def _delta_job(spark, tmp_path, **kw):
    defaults = dict(
        spark=spark,
        ingestion_id=1,
        source=load_table(spark, SF_SMALL, "events"),
        delta_field="ts",
        target_location=str(tmp_path / "lake" / "events"),
        log=ExecutionLog(spark, str(tmp_path / "log")),
        sink_format="delta",
    )
    defaults.update(kw)
    return IncrementalIngestJob(**defaults)


def test_delta_two_run_incremental_equals_full_load(
    spark, tmp_path, fake_delta
):
    events = load_table(spark, SF_SMALL, "events")
    job = _delta_job(spark, tmp_path, end_value_cap=MID)
    r1 = job.run()
    assert r1.status == STATUS_SUCCESS
    assert r1.source_count == events.filter(F.col("ts") <= MID).count()

    job2 = _delta_job(spark, tmp_path, log=job.log)
    r2 = job2.run()
    assert r2.status == STATUS_SUCCESS
    lake = spark.read.parquet(job.target_location)
    assert lake.count() == events.count()
    # LOADED row records the delta commit version, not a file list
    loaded = [
        json.loads(r["reason_code"])
        for r in job.log.read()
        .filter(F.col("execution_status") == STATUS_LOADED)
        .orderBy("insert_datetime")
        .collect()
    ]
    assert [d["delta_commit"] for d in loaded] == [0, 1]
    # a third run finds nothing new
    r3 = _delta_job(spark, tmp_path, log=job.log).run()
    assert r3.status == STATUS_NO_DATA


def test_delta_noop_run_commits_nothing(
    spark, tmp_path, fake_delta, monkeypatch
):
    """A rerun with no new rows logs NO_DATA before the append: no empty
    Delta commit, no new lake file, and the log's history and change feed
    read the same as before it."""
    from datalakeingestion_spark.ingest import timetravel as tt
    from datalakeingestion_spark.ingest.pipeline import _list_files

    job = _delta_job(spark, tmp_path)
    assert job.run().status == STATUS_SUCCESS
    monkeypatch.setattr(dsink, "is_delta_table", lambda s, p: True)

    def state():
        feed = tt.read_changes(spark, job.log, 1, job.target_location)
        return (
            len(fake_delta.commits[job.target_location]),
            _list_files(spark, job.target_location),
            tt.history(job.log, 1).collect(),
            sorted(feed.groupBy("_commit_version").count().collect()),
        )

    before = state()
    r = _delta_job(spark, tmp_path, log=job.log).run()
    assert r.status == STATUS_NO_DATA
    assert state() == before
    last = max(job.log.id_rows(1), key=lambda row: row["insert_datetime"])
    assert last["execution_status"] == STATUS_NO_DATA


def test_delta_validation_failure_restores_previous_version(
    spark, tmp_path, fake_delta, monkeypatch
):
    job = _delta_job(spark, tmp_path, end_value_cap=MID)
    assert job.run().status == STATUS_SUCCESS
    v0_count = spark.read.parquet(job.target_location).count()

    # second batch: sabotage the validation read so the lake under-counts
    real_read = fake_delta.read_delta
    monkeypatch.setattr(
        dsink,
        "read_delta",
        lambda spark, path, **kw: real_read(spark, path, **kw).limit(1),
    )
    r2 = _delta_job(spark, tmp_path, log=job.log).run()
    assert r2.status == STATUS_VALIDATION_FAILURE
    # RESTORE went back to the pre-batch version and the lake shows it
    assert fake_delta.restored == [(job.target_location, 0)]
    assert spark.read.parquet(job.target_location).count() == v0_count
    # watermark did NOT advance past the failed batch
    nxt = resolve_watermark(job.log, 1, False)
    assert nxt <= MID


def test_delta_first_commit_validation_failure_drops_table(
    spark, tmp_path, fake_delta, monkeypatch
):
    real_read = fake_delta.read_delta
    monkeypatch.setattr(
        dsink,
        "read_delta",
        lambda spark, path, **kw: real_read(spark, path, **kw).limit(1),
    )
    job = _delta_job(spark, tmp_path, end_value_cap=MID)
    r = job.run()
    assert r.status == STATUS_VALIDATION_FAILURE
    # no previous version to restore: the table dir itself was removed
    import os

    assert not os.path.exists(job.target_location)
    assert fake_delta.restored == []


def test_delta_maintain_latest_merges_commit_changes(
    spark, tmp_path, fake_delta
):
    from datalakeingestion_spark.operators.relational import latest_rows

    events = load_table(spark, SF_SMALL, "events")
    kw = dict(
        maintain_latest=True,
        primary_key=("user_id",),
        latest_tie_breaks=("event_id",),
    )
    job = _delta_job(spark, tmp_path, end_value_cap=MID, **kw)
    assert job.run().status == STATUS_SUCCESS
    r2 = _delta_job(spark, tmp_path, log=job.log, **kw).run()
    assert r2.status == STATUS_SUCCESS

    got = {
        r["user_id"]: r["event_id"]
        for r in spark.read.parquet(job.target_location + "__latest").collect()
    }
    want = {
        r["user_id"]: r["event_id"]
        for r in latest_rows(
            events, ["user_id"], "ts", ["event_id"]
        ).collect()
    }
    assert got == want


def test_delta_crash_after_commit_before_success_heals(
    spark, tmp_path, fake_delta, monkeypatch
):
    """The T5 window an atomic sink can't close: crash AFTER the append
    commit, BEFORE the SUCCESS row. The watermark still points before
    the batch, so an unhealed retry re-pulls the range as duplicates.
    _cleanup_orphans_delta must RESTORE the orphaned commit, then the
    retry lands exactly once."""
    events = load_table(spark, SF_SMALL, "events")
    job = _delta_job(spark, tmp_path, end_value_cap=MID)
    assert job.run().status == STATUS_SUCCESS

    # batch 2 crashes inside validation (after append, after LOADED row)
    real_read = fake_delta.read_delta

    def _boom(spark, path, **kw):
        raise RuntimeError("crash between commit and SUCCESS")

    monkeypatch.setattr(dsink, "read_delta", _boom)
    with pytest.raises(RuntimeError, match="crash between"):
        _delta_job(spark, tmp_path, log=job.log).run()
    # the orphaned commit IS visible (atomic commit already landed)
    assert len(fake_delta.commits[job.target_location]) == 2
    monkeypatch.setattr(dsink, "read_delta", real_read)

    # retry: cleanup restores the orphan, then the batch lands once
    r = _delta_job(spark, tmp_path, log=job.log).run()
    assert r.status == STATUS_SUCCESS
    lake = spark.read.parquet(job.target_location)
    assert lake.count() == events.count()  # no duplicates
    markers = [
        r["reason_code"]
        for r in job.log.read().collect()
        if r["reason_code"] == "orphaned-delta-commit-restored"
    ]
    assert len(markers) == 1
    assert fake_delta.restored[-1] == (job.target_location, 0)


def test_delta_crash_on_first_commit_drops_table(
    spark, tmp_path, fake_delta, monkeypatch
):
    """Same crash window on the FIRST commit: there is no version to
    restore to — the orphan heals by dropping the table."""
    import os

    def _boom(spark, path, **kw):
        raise RuntimeError("crash between commit and SUCCESS")

    real_read = fake_delta.read_delta
    monkeypatch.setattr(dsink, "read_delta", _boom)
    job = _delta_job(spark, tmp_path, end_value_cap=MID)
    with pytest.raises(RuntimeError, match="crash between"):
        job.run()
    monkeypatch.setattr(dsink, "read_delta", real_read)
    # heal + land: cleanup sees the table at exactly the orphaned
    # version 0 and deletes the table dir (no prior version to restore)
    r = _delta_job(spark, tmp_path, log=job.log, end_value_cap=MID).run()
    assert r.status == STATUS_SUCCESS
    events = load_table(spark, SF_SMALL, "events")
    assert spark.read.parquet(job.target_location).count() == events.filter(
        F.col("ts") <= MID
    ).count()


def test_delta_orphan_with_later_commits_fails_loudly(
    spark, tmp_path, fake_delta, monkeypatch
):
    """If the table moved PAST the orphaned version (another writer
    committed on top), auto-restore would destroy their data — the
    cleanup must raise for manual repair instead."""
    def _boom(spark, path, **kw):
        raise RuntimeError("crash between commit and SUCCESS")

    job = _delta_job(spark, tmp_path, end_value_cap=MID)
    assert job.run().status == STATUS_SUCCESS
    real_read = fake_delta.read_delta
    monkeypatch.setattr(dsink, "read_delta", _boom)
    with pytest.raises(RuntimeError, match="crash between"):
        _delta_job(spark, tmp_path, log=job.log).run()
    monkeypatch.setattr(dsink, "read_delta", real_read)
    # a foreign commit lands on top of the orphan
    fake_delta.append_delta(
        spark.range(1).select(F.lit(1).alias("x")), job.target_location
    )
    with pytest.raises(RuntimeError, match="later commits"):
        _delta_job(spark, tmp_path, log=job.log).run()


def test_delta_log_row_ordering(spark, tmp_path, fake_delta):
    job = _delta_job(spark, tmp_path, end_value_cap=MID)
    job.run()
    statuses = [
        r["execution_status"]
        for r in job.log.read().orderBy("insert_datetime").collect()
    ]
    assert statuses == [STATUS_STARTED, STATUS_LOADED, STATUS_SUCCESS]


def test_delta_session_confs_default_cdf_on():
    """read_changes_delta / _maintain_latest_delta consume the change
    data feed, which Delta records only when the table property is set —
    the session defaults must switch it on for created tables (ADVICE
    r8: without it every CDF read on a real deployment raises)."""
    assert (
        dsink.DELTA_SESSION_CONFS[
            "spark.databricks.delta.properties.defaults."
            "enableChangeDataFeed"
        ]
        == "true"
    )


def test_read_version_maps_log_versions_to_recorded_delta_commits(
    spark, tmp_path, fake_delta, monkeypatch
):
    """Delta commit versions also count maintenance commits (OPTIMIZE/
    RESTORE), so timetravel.read_version must NOT pass the log's dense
    data-commit version straight through — it reads the Delta commit the
    LOADED row recorded. Here a maintenance append lands between two
    ingests: log version 1 is Delta commit 2."""
    from datalakeingestion_spark.ingest import timetravel as tt

    job = _delta_job(spark, tmp_path, end_value_cap=MID)
    job.run()  # log version 0 == delta commit 0
    # maintenance commit with no log row (e.g. OPTIMIZE) -> delta commit 1
    fake_delta.append_delta(
        spark.range(0).select(
            F.lit(None).cast("timestamp").alias("ts"),
        ),
        job.target_location,
    )
    _delta_job(spark, tmp_path, log=job.log).run()  # log v1 == delta c2

    asked = []
    monkeypatch.setattr(dsink, "is_delta_table", lambda s, p: True)
    monkeypatch.setattr(
        dsink,
        "read_delta",
        lambda s, p, version=None, as_of=None: asked.append(version)
        or spark.range(1),
    )
    tt.read_version(spark, job.log, 1, 0, job.target_location)
    tt.read_version(spark, job.log, 1, 1, job.target_location)
    assert asked == [0, 2]  # NOT [0, 1]: the maintenance commit is skipped

    with pytest.raises(ValueError, match="does not exist"):
        tt.read_version(spark, job.log, 1, 9, job.target_location)


def test_read_version_refuses_unmapped_parquet_era_versions(
    spark, tmp_path, monkeypatch
):
    """A log written by the PARQUET sink records file lists, not delta
    commits; if the path later becomes a Delta table, reading an old log
    version must raise rather than guess a Delta snapshot."""
    from datalakeingestion_spark.ingest import timetravel as tt
    from datalakeingestion_spark.ingest.pipeline import IncrementalIngestJob

    job = IncrementalIngestJob(
        spark=spark,
        ingestion_id=1,
        source=load_table(spark, SF_SMALL, "events"),
        delta_field="ts",
        target_location=str(tmp_path / "lake" / "events"),
        log=ExecutionLog(spark, str(tmp_path / "log")),
    )
    job.run()
    monkeypatch.setattr(dsink, "is_delta_table", lambda s, p: True)
    with pytest.raises(ValueError, match="no.*delta_commit"):
        tt.read_version(spark, job.log, 1, 0, job.target_location)


def test_read_changes_maps_log_versions_to_recorded_delta_commits(
    spark, tmp_path, fake_delta, monkeypatch
):
    """read_changes has the same version-domain trap as read_version:
    a consumer's since_version is a LOG version, but the CDF wants the
    DELTA commit to start after. With a maintenance commit between two
    ingests (log v0 = delta c0, log v1 = delta c2), since_version=1
    must start the CDF after delta commit 2 — passing the log version
    through would re-deliver batch v1's rows as new."""
    from datalakeingestion_spark.ingest import timetravel as tt

    job = _delta_job(spark, tmp_path, end_value_cap=MID)
    job.run()
    fake_delta.append_delta(  # maintenance commit, no log row
        spark.range(0).select(F.lit(None).cast("timestamp").alias("ts")),
        job.target_location,
    )
    _delta_job(spark, tmp_path, log=job.log).run()

    asked = []
    monkeypatch.setattr(dsink, "is_delta_table", lambda s, p: True)
    monkeypatch.setattr(
        dsink,
        "read_changes_delta",
        lambda s, p, since: asked.append(since) or spark.range(1),
    )
    tt.read_changes(
        spark, job.log, 1, job.target_location, since_version=0
    )
    tt.read_changes(
        spark, job.log, 1, job.target_location, since_version=1
    )
    assert asked == [0, 2]  # NOT [0, 1]


def test_read_changes_after_and_full_replay_delegate_to_cdf(
    spark, tmp_path, fake_delta, monkeypatch
):
    """after= and no-arg reads on a Delta lake must ALSO go through the
    CDF: the parquet fallback would misread the Delta sink's
    '{"delta_commit": N}' payloads as file lists and raise a misleading
    'compaction has rewritten history' error. after= maps to the delta
    commit of the latest log version at or before the cutoff; a cutoff
    before everything (and the no-arg full replay) starts from commit
    0, i.e. since=-1 into read_changes_delta's since+1."""
    from datalakeingestion_spark.ingest import timetravel as tt

    job = _delta_job(spark, tmp_path, end_value_cap=MID)
    job.run()
    fake_delta.append_delta(  # maintenance commit, no log row
        spark.range(0).select(F.lit(None).cast("timestamp").alias("ts")),
        job.target_location,
    )
    _delta_job(spark, tmp_path, log=job.log).run()
    ts = {
        r["version"]: r["committed_at"]
        for r in tt.history(job.log, 1)
        .select("version", "committed_at")
        .collect()
    }
    assert ts[1] > ts[0], "two real runs cannot share a microsecond"

    asked = []
    monkeypatch.setattr(dsink, "is_delta_table", lambda s, p: True)
    monkeypatch.setattr(
        dsink,
        "read_changes_delta",
        lambda s, p, since: asked.append(since) or spark.range(1),
    )
    tt.read_changes(
        spark, job.log, 1, job.target_location,
        after="2000-01-01 00:00:00",  # before everything -> whole feed
    )
    tt.read_changes(  # cutoff AT v0 -> CDF after v0's delta commit (0)
        spark, job.log, 1, job.target_location, after=ts[0]
    )
    tt.read_changes(spark, job.log, 1, job.target_location)  # full replay
    assert asked == [-1, 0, -1]


def test_read_changes_after_and_replay_rows_through_fake_cdf(
    spark, tmp_path, fake_delta, monkeypatch
):
    """Same three modes, but driven through the REAL read_changes_delta
    seam (the parquet-backed fake with genuine since+1 slicing) instead
    of a recording lambda: the -1 sentinel must materialize as a full
    replay (every commit's rows) and the after=v0 cutoff as exactly the
    second batch's rows — a regression in the sentinel/startingVersion
    handoff now changes row COUNTS, not just a recorded argument."""
    from datalakeingestion_spark.ingest import timetravel as tt

    job = _delta_job(spark, tmp_path, end_value_cap=MID)
    job.run()
    _delta_job(spark, tmp_path, log=job.log).run()
    total = spark.read.parquet(job.target_location).count()
    batch2 = (
        spark.read.parquet(job.target_location)
        .filter(F.col("ts") > MID)
        .count()
    )
    assert 0 < batch2 < total

    monkeypatch.setattr(dsink, "is_delta_table", lambda s, p: True)
    assert (
        tt.read_changes(spark, job.log, 1, job.target_location).count()
        == total
    )
    rows = tt.read_changes(
        spark, job.log, 1, job.target_location, since_version=0
    )
    assert rows.count() == batch2
    ts0 = (
        tt.history(job.log, 1)
        .filter(F.col("version") == 0)
        .select("committed_at")
        .first()["committed_at"]
    )
    assert (
        tt.read_changes(
            spark, job.log, 1, job.target_location, after=ts0
        ).count()
        == batch2
    )
