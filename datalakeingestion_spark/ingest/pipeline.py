"""The incremental ingestion pipeline — the reference's core "query".

One run answers (reference: extractors/ingest_mysql_data.py:583-643, and
SURVEY.md §3.2): *"give me all rows of the source with delta ∈ (watermark,
now], typed, partitioned per the spec, appended to the lake, with
min/max/count recorded, counts validated, and the latest-row view
available."*

Spark-first design:
- the delta filter is a plan predicate (pushed into parquet/JDBC scans by
  Catalyst) instead of generated SQL text;
- chunking disappears (partitions + AQE replace the 400k/100k-row loops);
- bounds + count are observed DURING the batch's one write
  (``df.observe``), so the source is scanned once per batch, as the
  reference computes them during its one chunked pull (it folds
  per-chunk min/max lists — ingest_mysql_data.py:273-289 — which is
  exactly Spark's partial aggregation, automatic). A ``limit(1)``
  probe, which stops at the first row, decides NO_DATA before the
  write. Coalesce watermarks, whose end_value is least(per-column
  maxes), keep one aggregate before a capped write;
- the run's metadata work stays off Spark: the log is read on the
  driver, the staged files are listed with one ``listStatus`` per
  directory, and the lake reads the pipeline makes pin the schema it
  already holds;
- the written-file list is captured for rollback on validation failure
  (reference T5 manual rollback, ingest_mysql_data.py:569-581). On a real
  deployment Delta Lake's atomic commit replaces this entirely; the
  file-list rollback is the dependency-free stand-in with the same
  semantics.

One orchestration (:meth:`IncrementalIngestJob.run`) drives both lake
sinks — watermark, STARTED row, the probe (NO_DATA when it finds no
row), the observed write, LOADED row, validation, SUCCESS/VALIDATION_FAILURE row,
latest zone. Only these steps differ between ``sink_format="parquet"``
(:class:`_ParquetSink`) and ``sink_format="delta"`` (:class:`_DeltaSink`):

===================  ===============================  ==============================
step                 parquet                          delta
===================  ===============================  ==============================
STARTED payload      the run's staging dir            "delta-sink"
write, then publish  stage, list; LOADED = the file   record pre, append; LOADED =
                     list; move files, drop staging   {"delta_commit": post}; no-op
validation read      schema-pinned spark.read         delta_sink.read_delta
rollback (reason)    delete the listed files          RESTORE pre, or drop the new
                     (count-mismatch-rolled-back)     table (count-mismatch-restored)
orphan recovery      delete listed files + staging    RESTORE/drop the orphaned commit
latest batch, merge  written files, merge_latest      change feed, merge_latest_delta
===================  ===============================  ==============================

Quirks preserved for parity (SURVEY.md §4):
- coalesce watermark uses min(max(a), max(b)) as the conservative
  end_value (ingest_mysql_data.py:281-282);
- validation is skipped when a delta_field_expr is configured
  (start_ingestion.py:109,134-138);
- next start = last success end + 1s/+1 (can skip same-second commits).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config.partition_spec import PartitionSpec
from ..operators.relational import coalesce_range_filter
from . import delta_sink as dsink
from .merge import _fs, _walk
from .schema_registry import SchemaRegistry
from .watermark import (
    STATUS_FAILED,
    STATUS_LOADED,
    STATUS_NO_DATA,
    STATUS_STARTED,
    STATUS_SUCCESS,
    STATUS_VALIDATION_FAILURE,
    ExecutionLog,
    committed_delta_version,
    committed_files,
    delta_commit_payload,
    files_payload,
    norm_uri,
    open_batch,
    resolve_watermark,
)


@dataclass
class IngestResult:
    status: str
    start_value: str
    end_value: str = ""
    source_count: int = 0
    target_count: int = 0
    files: list[str] = field(default_factory=list)


def _list_files(spark: SparkSession, path: str) -> set[str]:
    """Recursive data-file listing via the Hadoop FS API (works for any
    supported scheme: file://, hdfs://, s3a://...)."""
    _, fs, fs_path = _fs(spark, path)
    if not fs.exists(fs_path):
        return set()
    names = (st.getPath().toString() for st in _walk(fs, fs_path))
    return {name for name in names if not name.endswith("_SUCCESS")}


def _delete_files(spark: SparkSession, files: set[str]) -> None:
    if not files:
        return
    jvm, fs, _ = _fs(spark, next(iter(files)))
    hpath = jvm.org.apache.hadoop.fs.Path
    for f in files:
        fs.delete(hpath(f), False)


def _delete_dir(spark: SparkSession, path: str) -> None:
    _, fs, p = _fs(spark, path)
    fs.delete(p, True)


def _move_files(spark: SparkSession, moves: list[tuple[str, str]]) -> None:
    """Per-file rename (same filesystem, resolved once per batch). A
    missing parent directory is created, and its files are new; in a
    parent that exists, an already-present destination means a retry
    already moved it — skip."""
    if not moves:
        return
    jvm, fs, _ = _fs(spark, moves[0][0])
    hpath = jvm.org.apache.hadoop.fs.Path
    parents: dict[str, bool] = {}  # parent dir -> existed before this batch
    for src, dst in moves:
        dp = hpath(dst)
        parent = dst.rsplit("/", 1)[0]
        if parent not in parents:
            parents[parent] = fs.exists(dp.getParent())
            if not parents[parent]:
                fs.mkdirs(dp.getParent())
        if parents[parent] and fs.exists(dp):
            continue
        fs.rename(hpath(src), dp)


def read_lake(spark: SparkSession, target_location: str) -> DataFrame:
    """Consumer read of an append-only lake zone with SCHEMA EVOLUTION.

    Incremental sources grow columns over time (the reference re-derives
    its projection from information_schema every run —
    extractors/ingest_mysql_data.py:164-200 — so a new source column
    starts appearing in new batches automatically). A plain
    ``spark.read.parquet(dir)`` infers the schema from ONE footer, so
    depending on which file wins, late-added columns silently vanish for
    every consumer. ``mergeSchema`` unions all footers: old rows surface
    the new column as NULL, which is also what the validation count and
    latest-zone merge expect.

    Footer-merge cost is metadata-scale (one footer per file, computed
    distributed); production deployments pin the contract schema in a
    catalog table instead — this is the catalog-less default that is
    never silently wrong.
    """
    return spark.read.option("mergeSchema", "true").parquet(target_location)


class _ParquetSink:
    """Staged commit on plain parquet. The batch is written to a
    run-private, dot-prefixed staging dir (recorded in the STARTED row),
    its final destinations are recorded in the LOADED row, and only THEN
    do the files move into place — so every crash point is recoverable
    from the log (see :meth:`recover`)."""

    def __init__(self, job: IncrementalIngestJob):
        self.job = job
        self.spark = job.spark
        self.staging = job._staging_dir(uuid.uuid4().hex)
        self.started_payload = self.staging
        self.moves: list[tuple[str, str]] = []
        self.files: list[str] = []
        # the lake's schema and partition column, once written
        self.schema: T.StructType | None = None
        self.partition_col: str | None = None

    def write(self, delta: DataFrame, partition_col: str | None) -> str:
        # files read back as nullable, without the source's field metadata
        self.schema = T.StructType(
            [T.StructField(f.name, f.dataType) for f in delta.schema.fields]
        )
        self.partition_col = partition_col
        writer = delta.write.mode("append").option("compression", "snappy")
        if partition_col is not None:
            writer = writer.partitionBy(partition_col)
        writer.parquet(self.staging)
        target = self.job.target_location.rstrip("/")
        # listed paths are fully-qualified URIs (file:/..., s3a://...);
        # splice the destination around the staging path inside them,
        # found with the scheme's slashes normalised (a target given as
        # file:///x lists as file:/x). A staging dir with a scheme matches
        # at 0; a bare path matches after the listed scheme and authority,
        # which the destination keeps as listed.
        staging = norm_uri(self.staging)
        for f in sorted(_list_files(self.spark, self.staging)):
            nf = norm_uri(f)
            i = nf.find(staging)
            if i < 0:  # pragma: no cover - FS returned an unrelated path
                raise RuntimeError(f"staged file {f} outside {self.staging}")
            head = f[: i + len(f) - len(nf)] if i else ""
            self.moves.append((f, head + target + nf[i + len(staging):]))
        self.files = sorted(dst for _, dst in self.moves)
        return files_payload(self.files)

    def discard(self) -> None:
        """Drop an empty batch's staging dir (a source that emptied
        between the probe and the write)."""
        _delete_dir(self.spark, self.staging)

    def publish(self) -> None:
        _move_files(self.spark, self.moves)
        _delete_dir(self.spark, self.staging)

    def read(self) -> DataFrame:
        """The whole lake, read with the schema the batch was written
        with (no footer-inference job). Older batches may lack a newer
        column, which then reads as null, as under mergeSchema."""
        return self.spark.read.schema(self.schema).parquet(
            self.job.target_location
        )

    def rollback(self) -> str:
        _delete_files(self.spark, set(self.files))
        return "count-mismatch-rolled-back"

    def latest_batch(self):
        """The batch as the lake recorded it: the written data files.
        Partition columns live in directory names, not the files, so the
        read matches the pre-partition schema merge_latest expects."""
        from .merge import merge_latest

        file_schema = T.StructType(
            [f for f in self.schema.fields if f.name != self.partition_col]
        )
        return (
            self.spark.read.schema(file_schema).parquet(*self.files),
            merge_latest,
        )

    def recover(self, started, loaded) -> str | None:
        """Crash recovery for an open staged batch (reference T5 analog):

        - died before the LOADED row (maybe mid-staging-write): delete the
          staging dir (never visible to readers — it is dot-prefixed);
        - died during/after the move (a LOADED row exists): delete the
          listed final files (the moved ones) AND the staging dir (the
          unmoved ones). Without this, the re-pulled range would
          out-count the source and validation would fail on every retry.

        Returns the marker to log, or None when there was nothing to do."""
        staging = started["reason_code"] or ""
        ours = staging.startswith(self.job._staging_dir(""))
        if loaded is None:
            if not ours:
                return None
            _delete_dir(self.spark, staging)
            return "orphaned-staging-cleaned"
        files = committed_files(loaded["reason_code"])
        if files:
            _delete_files(self.spark, set(files))
        if ours:
            _delete_dir(self.spark, staging)
        return "orphaned-batch-cleaned"


class _DeltaSink:
    """Delta Lake's transaction log as the commit: ``append_delta`` is
    atomic (a crash mid-write leaves NO visible commit), so there is no
    staging dir and nothing to publish; the LOADED row records the commit
    VERSION. All Delta IO goes through ``ingest.delta_sink`` attributes
    looked up at call time, so tests/test_delta_sink.py can drive the
    orchestration against a parquet-backed fake of that seam."""

    started_payload = "delta-sink"

    def __init__(self, job: IncrementalIngestJob):
        self.job = job
        self.spark = job.spark
        self.target = job.target_location.rstrip("/")
        self.files: list[str] = []  # Delta tracks data files itself
        self.pre: int | None = None
        self.post: int | None = None

    def write(self, delta: DataFrame, partition_col: str | None) -> str:
        self.pre = dsink.table_version(self.spark, self.target)  # None: new
        dsink.append_delta(delta, self.target, partition_col)
        self.post = dsink.table_version(self.spark, self.target)
        return delta_commit_payload(self.post)

    def discard(self) -> None:
        """Nothing to drop: the probe or the coalesce bounds found no row,
        so nothing was appended (a source that emptied between the probe
        and the append leaves a commit without data)."""

    def publish(self) -> None:
        """The append already committed atomically."""

    def read(self) -> DataFrame:
        return dsink.read_delta(self.spark, self.target)

    def rollback(self) -> str:
        if self.pre is None:
            _delete_dir(self.spark, self.target)  # batch created the table
        else:
            dsink.restore_version(self.spark, self.target, self.pre)
        return "count-mismatch-restored"

    def latest_batch(self):
        """The commit re-read from the table's change feed."""
        batch = dsink.read_changes_delta(
            self.spark, self.target, self.post - 1
        ).drop("_change_type", "_commit_version", "_commit_timestamp")
        return batch, dsink.merge_latest_delta

    def recover(self, started, loaded) -> str | None:
        """The T5 window an atomic sink leaves open: a crash AFTER the
        append commit but BEFORE the SUCCESS row. The watermark still
        points before the batch, so a retry would append the same range
        AGAIN. If the table is still at exactly the orphaned version,
        RESTORE the version before it (or drop the table when the orphan
        was its first commit). If the table moved past it, someone else
        committed on top — restoring would destroy their data, so fail
        loudly for manual repair (single writer per target is the
        supported deployment, as for the parquet sink)."""
        commit = None if loaded is None else committed_delta_version(
            loaded["reason_code"]
        )
        if commit is None:
            return None  # crash before the append: the table shows nothing
        cur = dsink.table_version(self.spark, self.target)
        if cur != commit:
            raise RuntimeError(
                f"orphaned delta commit {commit} for id "
                f"{self.job.ingestion_id} but table {self.target} is at "
                f"version {cur}: later commits exist — restore manually, "
                "then close the batch in the log"
            )
        if commit == 0:
            _delete_dir(self.spark, self.target)
        else:
            dsink.restore_version(self.spark, self.target, commit - 1)
        return "orphaned-delta-commit-restored"


@dataclass
class IncrementalIngestJob:
    spark: SparkSession
    ingestion_id: int
    source: DataFrame  # already-typed source relation (JDBC/parquet/...)
    delta_field: str
    target_location: str
    log: ExecutionLog
    integer_watermark: bool = False
    # coalesce watermark: e.g. ("modified_datetime", "created_datetime") —
    # reference delta_field_expr 'coalesce(modified, created)'
    delta_expr_cols: tuple[str, ...] = ()
    partition_spec: PartitionSpec | None = None
    end_value_cap: str | None = None  # optional closed upper bound ("now")
    # materialized latest-row zone, maintained incrementally per batch
    # (merge.merge_latest) instead of the reference's read-time view
    maintain_latest: bool = False
    primary_key: tuple[str, ...] = ()
    latest_tie_breaks: tuple[str, ...] = ()
    # contract-schema enforcement (ingest/schema_registry.py): when set,
    # the SOURCE schema is validated before anything is written — additive
    # columns evolve the pinned contract, drops/type changes abort the run
    schema_registry: "SchemaRegistry | None" = None
    # "parquet" (default): staged commit + log rollback, self-contained.
    # "delta": the production ACID path — atomic append, RESTORE-based
    # validation rollback, MERGE-maintained latest zone. Package-gated on
    # delta-spark (ingest/delta_sink.py); raises loudly when absent.
    sink_format: str = "parquet"

    def _delta_col(self) -> Column:
        if self.delta_expr_cols:
            return F.coalesce(*[F.col(c) for c in self.delta_expr_cols])
        return F.col(self.delta_field)

    def _wm_lit(self, value: str) -> Column:
        if self.integer_watermark:
            return F.lit(int(value))
        # cast handles both second- and microsecond-precision strings
        return F.lit(value).cast("timestamp")

    def _delta_frame(self, start: str) -> DataFrame:
        if self.delta_expr_cols and self.end_value_cap:
            # windowed BETWEEN with the index-friendly OR prefilter (F2)
            return coalesce_range_filter(
                self.source,
                list(self.delta_expr_cols),
                self._wm_lit(start),
                self._wm_lit(self.end_value_cap),
            )
        pred = self._delta_col() >= self._wm_lit(start)
        if self.end_value_cap:
            pred = pred & (self._delta_col() <= self._wm_lit(self.end_value_cap))
        return self.source.filter(pred)

    def _bounds(self, delta: DataFrame) -> tuple[str, str, int]:
        """(min, max, count) of the delta column in ONE aggregate — the
        bounds pass of coalesce watermarks, whose writes cannot observe
        them (single-column runs observe the same values during the
        write, see :meth:`_write_observed`).

        Coalesce case: end_value = least of the per-column maxes — the
        reference's deliberate conservative watermark
        (ingest_mysql_data.py:281-282).
        """
        if self.delta_expr_cols:
            max_expr = F.least(
                *[F.max(F.col(c)) for c in self.delta_expr_cols]
            )
        else:
            max_expr = F.max(self._delta_col())
        row = delta.agg(
            F.min(self._delta_col()).alias("mn"),
            max_expr.alias("mx"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        return self._format_bounds(row)

    def _write_observed(
        self,
        sink: _ParquetSink | _DeltaSink,
        delta: DataFrame,
        partition_col: str | None,
    ) -> tuple[str, tuple[str, str, int]]:
        """Write the batch in ONE scan of the source and take its (min,
        max, count) from an :class:`Observation` on that same scan. The
        LOADED row then records exactly the rows the commit holds: a
        live source (JDBC) that commits rows after the scan leaves them
        to the next watermark window, with no cap filter and no second
        scan. (The reference likewise computes its bounds during its one
        chunked pull — ingest_mysql_data.py:273-289.)

        A ``limit(1)`` probe (``isEmpty``) decides NO_DATA first: an
        empty Delta append would still commit a table version, and an
        empty parquet write (committer, staging dir, listing) costs more
        than a bounds aggregate, while the probe costs less. It reads the
        source's partitions in rounds until it meets a row, so a batch
        with rows pays one small job."""
        if delta.isEmpty():
            return "", ("", "", 0)
        obs = Observation()
        col = self._delta_col()
        observed = delta.observe(
            obs,
            F.min(col).alias("mn"),
            F.max(col).alias("mx"),
            F.count(F.lit(1)).alias("n"),
        )
        payload = sink.write(observed, partition_col)
        return payload, self._format_bounds(obs.get)

    def _format_bounds(self, row) -> tuple[str, str, int]:
        """The (start_value, end_value, source_count) strings a log row
        records for an aggregate row of ``mn``/``mx``/``n``."""
        if row["n"] == 0:
            return "", "", 0
        if self.integer_watermark:
            return str(row["mn"]), str(row["mx"]), row["n"]

        def _fmt(ts):
            # Spark TimestampType always carries microsecond precision, so
            # ALWAYS record the 6-digit fraction — even when it is .000000.
            # Dropping it for exact-second maxima would make bump_watermark
            # take the +1s path and skip rows later committed inside that
            # same sub-second window (the gap the µs bump exists to close).
            # Date watermarks (no sub-second notion) keep the bare format.
            base = ts.strftime("%Y-%m-%d %H:%M:%S")
            us = getattr(ts, "microsecond", None)
            return base if us is None else f"{base}.{us:06d}"

        return _fmt(row["mn"]), _fmt(row["mx"]), row["n"]

    def _staging_dir(self, token: str) -> str:
        # dot-prefixed → invisible to Spark/Hive lake readers while in flight
        return f"{self.target_location.rstrip('/')}/.staging-{token}"

    def _cleanup_orphans(self, rows: list) -> None:
        """Close the id's last batch if a crash left it open (the rule is
        :func:`~.watermark.open_batch`).

        The recovery action follows the sink that WROTE the batch — read
        from its STARTED payload — not this job's ``sink_format``: a
        parquet batch's staged files must be deleted, a Delta batch's
        commit restored (which raises without delta-spark, before any row
        is logged).

        ``rows`` is the run's one :meth:`ExecutionLog.id_rows` snapshot
        (this method only APPENDS recovery markers, so the snapshot stays
        valid for the watermark resolution that follows it).
        """
        batch = open_batch(rows)
        if batch is None:
            return
        started, loaded = batch
        writer = (
            _DeltaSink
            if started["reason_code"] == _DeltaSink.started_payload
            else _ParquetSink
        )
        marker = writer(self).recover(started, loaded)
        if marker is not None:
            last = loaded or started
            self.log.append(
                self.ingestion_id,
                STATUS_FAILED,
                start_value=last["start_value"] or "",
                end_value=last["end_value"] or "",
                reason_code=marker,
            )

    def run(self) -> IngestResult:
        return self._run(None)

    def _run(self, log_rows: list | None) -> IngestResult:
        """:meth:`run`, given the id's log snapshot when the caller already
        holds one (``None`` takes it here)."""
        if self.sink_format not in ("parquet", "delta"):
            raise ValueError(f"unsupported sink_format {self.sink_format!r}")
        if self.schema_registry is not None:
            # fail BEFORE the watermark/staging machinery touches anything:
            # schema drift must not burn a STARTED log row per retry
            self.schema_registry.check_and_evolve(
                self.ingestion_id, self.source.schema
            )
        if self.sink_format == "delta":
            # loud before any log row burns: a misconfigured deployment
            # must not leave STARTED orphans per retry
            dsink.require_delta("IncrementalIngestJob(sink_format='delta')")
            sink = _DeltaSink(self)
        else:
            sink = _ParquetSink(self)
        # one log snapshot serves orphan cleanup AND watermark resolution
        # (cleanup only appends marker rows, never SUCCESS rows)
        if log_rows is None:
            log_rows = self.log.id_rows(self.ingestion_id)
        self._cleanup_orphans(log_rows)
        start = resolve_watermark(
            self.log, self.ingestion_id, self.integer_watermark, rows=log_rows
        )
        self.log.append(
            self.ingestion_id,
            STATUS_STARTED,
            start_value=start,
            reason_code=sink.started_payload,
        )

        delta = self._delta_frame(start)
        partition_col = None
        if self.partition_spec is not None:
            delta = self.partition_spec.derive(delta)
            partition_col = self.partition_spec.partition_column_name

        if self.delta_expr_cols:
            mn, mx, n = self._bounds(delta)
            if n:
                # A coalesce watermark's end_value is least(per-column
                # maxes), which an Observation cannot apply before the
                # write. So its bounds pass and its write are SEPARATE
                # scans, and the write is capped at mx: rows a live source
                # (JDBC) commits in between with delta > mx, and rows
                # whose coalesce delta lies in (mx, cap], belong to the
                # next watermark window. The recount on the capped frame
                # makes the LOADED row's source_count match what the
                # commit holds (validation is skipped in coalesce mode,
                # so nothing downstream would catch an overstatement).
                delta = delta.filter(self._delta_col() <= self._wm_lit(mx))
                n = delta.count()
            payload = sink.write(delta, partition_col) if n else ""
        else:
            payload, (mn, mx, n) = self._write_observed(sink, delta, partition_col)
        if n == 0:
            sink.discard()
            self.log.append(self.ingestion_id, STATUS_NO_DATA, start_value=start)
            return IngestResult(STATUS_NO_DATA, start)

        self.log.append(
            self.ingestion_id,
            STATUS_LOADED,
            start_value=mn,
            end_value=mx,
            source_count=n,
            reason_code=payload,
        )
        sink.publish()

        # Count validation (V1): lake rows under the same delta predicate
        # vs the source count. Skipped for coalesce watermarks, like the
        # reference (start_ingestion.py:109,134-138).
        target_n = 0
        if not self.delta_expr_cols:
            target_n = sink.read().filter(
                (F.col(self.delta_field) >= self._wm_lit(start))
                & (F.col(self.delta_field) <= self._wm_lit(mx))
            ).count()
            if target_n != n:
                reason = sink.rollback()
                self.log.append(
                    self.ingestion_id,
                    STATUS_VALIDATION_FAILURE,
                    start_value=mn,
                    end_value=mx,
                    source_count=n,
                    target_count=target_n,
                    reason_code=reason,
                )
                return IngestResult(
                    STATUS_VALIDATION_FAILURE, mn, mx, n, target_n, sink.files
                )
        self.log.append(
            self.ingestion_id,
            STATUS_SUCCESS,
            start_value=mn,
            end_value=mx,
            source_count=n,
            target_count=target_n,
            reason_code="validation-skipped" if self.delta_expr_cols else "",
        )
        self._maintain_latest(sink)
        return IngestResult(STATUS_SUCCESS, mn, mx, n, target_n, sink.files)

    def run_windows(self, until: str, window_hours: int = 24) -> list[IngestResult]:
        """Voluminous-table mode: pull in serial time windows until caught
        up to ``until`` (reference T2 — the day-advance while-loop,
        ingest_mysql_data.py:231-303, used to bound per-query source load).

        Each window is a normal ``run()`` with a capped end value, so
        watermark records advance per window and a failure loses at most
        one window. On JDBC sources, prefer the PARALLEL range read
        (partition options, sources/jdbc.py) — this serial mode exists for
        sources that throttle concurrent scans.
        """
        from datetime import datetime, timedelta

        if self.integer_watermark:
            raise ValueError("run_windows applies to datetime watermarks")
        results: list[IngestResult] = []
        fmt = "%Y-%m-%d %H:%M:%S"

        def _parse(s: str) -> datetime:
            # keep the fraction: truncating here would compare X.000001
            # as X == end and loop forever on a batch whose max landed
            # exactly on `until`
            if "." in s:
                return datetime.strptime(s, fmt + ".%f")
            return datetime.strptime(s, fmt)

        end = _parse(until)
        while True:
            # one log snapshot per window: it resolves the window's start
            # here and is handed to the window's run()
            log_rows = self.log.id_rows(self.ingestion_id)
            start_s = resolve_watermark(
                self.log, self.ingestion_id, self.integer_watermark, rows=log_rows
            )
            start = _parse(start_s)
            if start > end:
                break
            # fast-forward over empty ranges: one cheap min-aggregate
            # instead of crawling empty windows (the reference walks
            # day-by-day from the epoch default — ~1500 no-op source
            # queries on a first voluminous run)
            first = self.source.filter(
                self._delta_col() >= self._wm_lit(start_s)
            ).agg(F.min(self._delta_col()).alias("m")).first()["m"]
            if first is None:
                break  # nothing at/after the watermark at all
            start = max(start, first.replace(microsecond=0))
            cap = min(start + timedelta(hours=window_hours), end)
            # full µs precision: a plain strftime(fmt) would TRUNCATE a
            # sub-second `until` (e.g. now()) below the running watermark —
            # the final window then either skips the tail rows or, via the
            # empty-window record, re-resolves the same start forever
            windowed = IncrementalIngestJob(
                **{**self.__dict__, "end_value_cap": cap.strftime(fmt + ".%f")}
            )
            res = windowed._run(log_rows)
            results.append(res)
            if res.status == STATUS_NO_DATA:
                # nothing in this window; advance past it by recording an
                # empty successful window so the loop terminates. Full µs
                # precision like every other timestamp end_value — mixing
                # bare-second and .000000 forms would create max_by ties
                # between equal instants with different bump behavior.
                self.log.append(
                    self.ingestion_id,
                    STATUS_SUCCESS,
                    start_value=start_s,
                    end_value=cap.strftime(fmt + ".%f"),
                    reason_code="empty-window",
                )
            if res.status not in (STATUS_SUCCESS, STATUS_NO_DATA):
                break
        return results

    def _maintain_latest(self, sink: _ParquetSink | _DeltaSink) -> None:
        """Merge the committed batch into ``{target}__latest``. The batch
        is re-read from what the sink committed, never the source delta
        frame: that frame is lazy, so merging it would re-scan the source
        at merge time — a row updated between the lake append and the
        merge would make the latest zone disagree with the lake (and a
        JDBC source would pay a second remote scan)."""
        if not self.maintain_latest:
            return
        if not self.primary_key:
            raise ValueError("maintain_latest requires a primary_key")
        batch, merge = sink.latest_batch()
        merge(
            self.spark,
            self.target_location.rstrip("/") + "__latest",
            batch,
            list(self.primary_key),
            # coalesce watermarks order the view by the plain delta field,
            # matching the reference's view ORDER BY {delta} DESC
            # (start_ingestion.py:369)
            self.delta_field,
            list(self.latest_tie_breaks),
        )
