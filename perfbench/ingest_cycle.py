"""``ingest_cycle``: incremental ingestion of a seeded landing zone, and
consumers reading what it wrote.

Two tables are landed from the sf0.1 fixtures:

- A, ``orders`` with a generated ``modified_ts`` watermark after the
  2020-01-01 epoch, partitioned ``YYYYMM`` on ``o_orderdate``, with a
  latest-row zone on ``o_orderkey``;
- B, ``lineitem`` with a generated auto-increment ``li_id`` as an integer
  watermark, append-only.

Every increment (new keys plus seeded updates of landed keys) is generated
at setup and later landed by rename, so the generator does no Spark work
inside the timed section. The timed section is one cold load of both
tables, then cycles of: land the next increment, one ``run()`` per table,
one no-op rerun per table, and four consumer reads (``read_lake``
aggregate, latest-view query, ``__latest`` zone read, ``read_changes``
since the previous version). Only the parquet sink is measured.

There is no warm-up: the cold load runs the first Spark jobs of a fresh
process, as a scheduled ingest that starts its own process does, so it
carries the JVM's warm-up. A round is one cycle; the cold load belongs to
none.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import eventlog

SCALE = "sf0.1"
# Seconds of one cycle on a 4-core host; ``--seconds`` is turned into whole
# cycles at this rate, after the cold load.
CYCLE_SECONDS = 16.0
INITIAL_SHARE = 0.8
DAY_US = 86_400 * 1_000_000
# 2020-01-02 00:00 UTC: every generated timestamp lies after the
# 2020-01-01 watermark epoch
BASE_US = 1_577_923_200 * 1_000_000

ORDERS_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING, "
    "modified_ts TIMESTAMP"
)
LINEITEM_SCHEMA = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
    "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
    "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP, li_id BIGINT"
)

READS = ("read_lake", "latest_view", "latest_zone", "read_changes")

LAYER = (
    "exec.executor_cpu_s", "exec.input_bytes", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.task_skew",
    "ingest.watermark.log_read_s", "ingest.watermark.append_s",
    "ingest.watermark.appends", "ingest.watermark.log_files",
    "ingest.pipeline.self_s", "ingest.pipeline.jobs",
    "ingest.pipeline.source_bytes_read", "ingest.pipeline.files_written",
    "ingest.pipeline.bytes_written", "ingest.write_amplification",
    "ingest.merge.merge_latest_s", "ingest.merge.bytes_rewritten",
    "ingest.cold_load_s", "ingest.batch_p50_s", "ingest.noop_rerun_p50_s",
    "ingest.rows_per_s",
    "lake.read_lake_s", "lake.latest_view_s", "lake.latest_zone_s",
    "lake.read_changes_s", "lake.read_p50_s", "lake.data_files",
    "lake.bytes_read_per_row",
)


def _local(uri: str) -> str:
    return uri[len("file:"):] if uri.startswith("file:") else uri


def _tree(path: str) -> list[str]:
    """Data files under ``path`` (hidden and marker files excluded)."""
    out = []
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        out += [
            os.path.join(dirpath, f)
            for f in files
            if not f.startswith((".", "_"))
        ]
    return out


def _bytes(files) -> int:
    return sum(os.path.getsize(f) for f in files)


class Landing:
    """A seeded landing zone: the initial files of both tables in their
    source directories, and every increment waiting beside them."""

    def __init__(self, root: str, fixtures: str, rng: np.random.Generator, cycles: int):
        self.src = {t: os.path.join(root, "landing", t) for t in ("orders", "lineitem")}
        self.pending = os.path.join(root, "pending")
        self.lake = {t: os.path.join(root, "lake", t) for t in ("orders", "lineitem")}
        self.log_path = os.path.join(root, "lake", "_log")
        for d in (*self.src.values(), self.pending):
            os.makedirs(d)
        orders = pq.read_table(os.path.join(fixtures, "orders.parquet"))
        lineitem = pq.read_table(os.path.join(fixtures, "lineitem.parquet"))
        # fixture timestamps are naive wall clock, read as UTC instants
        orders = _as_utc(orders, "o_orderdate")
        lineitem = _as_utc(lineitem, "l_shipdate")
        # per increment: {table: (pending path, rows)}
        self.increments: list[dict[str, tuple[str, int]]] = [{} for _ in range(cycles)]
        self.initial_rows: dict[str, int] = {}
        self.new_orders = self._orders(orders, rng, cycles)
        self._lineitem(lineitem, rng, cycles)
        self.initial_bytes = _bytes(_tree(self.src["orders"]) + _tree(self.src["lineitem"]))

    def _initial(self, table: str, t: pa.Table) -> None:
        self.initial_rows[table] = t.num_rows
        pq.write_table(t, os.path.join(self.src[table], "init.parquet"))

    def _pending(self, table: str, k: int, t: pa.Table) -> None:
        path = os.path.join(self.pending, f"{table}-{k}.parquet")
        pq.write_table(t, path)
        self.increments[k][table] = (path, t.num_rows)

    def _orders(self, t: pa.Table, rng, cycles: int) -> int:
        n0 = int(t.num_rows * INITIAL_SHARE)
        new_per = (t.num_rows - n0) // cycles
        ts = BASE_US + rng.integers(0, 300 * DAY_US, n0)
        self._initial("orders", t.slice(0, n0).append_column("modified_ts", _ts(ts)))
        for k in range(cycles):
            landed = n0 + k * new_per
            n_upd = int(rng.integers(new_per // 5, new_per // 3 + 1))
            upd = t.take(pa.array(rng.choice(landed, n_upd, replace=False)))
            price = upd["o_totalprice"].to_numpy() * rng.uniform(0.9, 1.1, n_upd)
            upd = _set(upd, "o_totalprice", pa.array(np.round(price, 2)))
            upd = _set(upd, "o_orderstatus", pa.array(rng.choice(["F", "O", "P"], n_upd)))
            inc = pa.concat_tables([t.slice(landed, new_per), upd])
            # increment k's timestamps lie in day 300 + k, after every earlier one
            start = BASE_US + (300 + k) * DAY_US
            ts = start + rng.integers(0, DAY_US, inc.num_rows)
            self._pending("orders", k, inc.append_column("modified_ts", _ts(ts)))
        return new_per

    def _lineitem(self, t: pa.Table, rng, cycles: int) -> None:
        n0 = int(t.num_rows * INITIAL_SHARE)
        new_per = (t.num_rows - n0) // cycles
        self._initial("lineitem", t.slice(0, n0).append_column("li_id", pa.array(np.arange(1, n0 + 1))))
        next_id = n0 + 1
        for k in range(cycles):
            landed = n0 + k * new_per
            n_upd = int(rng.integers(new_per // 5, new_per // 3 + 1))
            upd = t.take(pa.array(rng.choice(landed, n_upd, replace=False)))
            qty = upd["l_quantity"].to_numpy() + rng.integers(1, 5, n_upd)
            upd = _set(upd, "l_quantity", pa.array(qty.astype("float64")))
            inc = pa.concat_tables([t.slice(landed, new_per), upd])
            ids = np.arange(next_id, next_id + inc.num_rows)
            next_id += inc.num_rows
            self._pending("lineitem", k, inc.append_column("li_id", pa.array(ids)))

    def land(self, k: int) -> int:
        """Move increment ``k`` of both tables into the source directories;
        returns the bytes landed."""
        landed = 0
        for table, (path, _) in self.increments[k].items():
            landed += os.path.getsize(path)
            os.rename(path, os.path.join(self.src[table], os.path.basename(path)))
        return landed


def _as_utc(t: pa.Table, col: str) -> pa.Table:
    utc = t[col].cast(pa.timestamp("us")).cast(pa.timestamp("us", tz="UTC"))
    return _set(t, col, utc)


def _set(t: pa.Table, col: str, values) -> pa.Table:
    return t.set_column(t.schema.get_field_index(col), col, values)


def _ts(micros) -> pa.Array:
    return pa.array(micros, pa.timestamp("us", tz="UTC"))


class Cycle:
    """The timed operations against one landing zone, and what the checks
    need of them."""

    def __init__(self, ctx, zone: Landing):
        from datalakeingestion_spark.ingest.watermark import ExecutionLog

        self.ctx, self.z = ctx, zone
        self.log = ExecutionLog(ctx.spark, zone.log_path)
        self.runs: list[tuple[str, str, int, object]] = []  # kind, table, expected rows, result
        self.reads: list[tuple[str, int, object]] = []  # kind, expected, result rows
        self.landed_bytes = 0
        self.orders_rows = 0
        self.latest_keys = 0
        self.latest_bytes = 0

    def _job(self, table: str):
        from datalakeingestion_spark.config.partition_spec import PartitionSpec
        from datalakeingestion_spark.ingest.pipeline import IncrementalIngestJob

        spark, z = self.ctx.spark, self.z
        if table == "orders":
            return IncrementalIngestJob(
                spark, 1, spark.read.schema(ORDERS_SCHEMA).parquet(z.src["orders"]),
                "modified_ts", z.lake["orders"], self.log,
                partition_spec=PartitionSpec("o_orderdate", "time-based", "YYYYMM"),
                maintain_latest=True, primary_key=("o_orderkey",),
            )
        return IncrementalIngestJob(
            spark, 2, spark.read.schema(LINEITEM_SCHEMA).parquet(z.src["lineitem"]),
            "li_id", z.lake["lineitem"], self.log, integer_watermark=True,
        )

    def _run(self, kind: str, table: str, rnd: int | None, expected: int) -> None:
        def op():
            job = self._job(table)
            with self.ctx.tracer.span("ingest.pipeline.run"):
                return job.run()

        label = "cold" if rnd is None else f"c{rnd}:{kind}"
        res = self.ctx.run_op(kind, f"{label}:{table}", rnd, op)
        self.runs.append((kind, table, expected, res))
        if self.ctx.traced and table == "orders" and res is not None and res.files:
            self.latest_bytes += _bytes(_tree(self.z.lake["orders"] + "__latest"))

    def cold(self) -> None:
        for table in ("orders", "lineitem"):
            self._run("cold", table, None, self.z.initial_rows[table])
        self.landed_bytes += self.z.initial_bytes
        self.orders_rows = self.latest_keys = self.z.initial_rows["orders"]

    def cycle(self, k: int) -> None:
        from pyspark.sql import functions as F

        from datalakeingestion_spark.ingest.pipeline import read_lake
        from datalakeingestion_spark.ingest.timetravel import read_changes
        from datalakeingestion_spark.ingest.views import register_latest_view

        spark, z = self.ctx.spark, self.z
        self.landed_bytes += z.land(k)
        inc = z.increments[k]
        for table in ("orders", "lineitem"):
            self._run("run", table, k, inc[table][1])
        for table in ("orders", "lineitem"):
            self._run("rerun", table, k, 0)
        self.orders_rows += inc["orders"][1]
        self.latest_keys += z.new_orders  # updates add no keys
        n = F.count(F.lit(1)).alias("n")
        lake = z.lake["orders"]
        reads = (
            ("read_lake", self.orders_rows,
             lambda: read_lake(spark, lake).agg(n, F.sum("o_totalprice")).collect()),
            ("latest_view", self.latest_keys,
             lambda: register_latest_view(
                 spark, "orders_latest", lake, ["o_orderkey"], "modified_ts"
             ).agg(n).collect()),
            ("latest_zone", self.latest_keys,
             lambda: spark.read.parquet(lake + "__latest").agg(n).collect()),
            # log version k + 1 is this cycle's commit (the cold load is 0)
            ("read_changes", inc["lineitem"][1],
             lambda: read_changes(
                 spark, self.log, 2, z.lake["lineitem"], since_version=k
             ).agg(n).collect()),
        )
        for kind, expected, fn in reads:
            rows = self.ctx.run_op(kind, f"c{k}:{kind}", k, fn)
            self.reads.append((kind, expected, rows))

    def verify(self, tally) -> None:
        """Every increment ends ``success`` with the generator's row count in
        the files it wrote; every rerun ends ``no-data-to-load``; every read
        returns the generator's count. Operations that raised were counted
        as failed already."""
        from datalakeingestion_spark.ingest.watermark import STATUS_NO_DATA, STATUS_SUCCESS

        for kind, table, expected, res in self.runs:
            if res is None:
                continue
            if kind == "rerun":
                tally.record(res.status == STATUS_NO_DATA, f"rerun {table}: {res.status}")
                continue
            files = sum(pq.ParquetFile(_local(f)).metadata.num_rows for f in res.files)
            tally.record(
                res.status == STATUS_SUCCESS
                and res.source_count == res.target_count == files == expected,
                f"{kind} {table}: {res.status}, source {res.source_count}, target "
                f"{res.target_count}, in files {files}, generated {expected}",
            )
        for kind, expected, rows in self.reads:
            if rows is not None:
                got = rows[0]["n"]
                tally.record(got == expected, f"{kind}: {got} rows, generated {expected}")


def setup(ctx) -> None:
    ctx.cycles = max(1, round(ctx.seconds / CYCLE_SECONDS))
    zone = Landing(
        os.path.join(ctx.workdir, "zone"),
        os.path.join(ctx.fixtures, SCALE),
        np.random.default_rng(ctx.seed),
        ctx.cycles,
    )
    ctx.main = Cycle(ctx, zone)


def measure(ctx) -> None:
    main = ctx.main
    t0 = time.perf_counter()
    main.cold()
    ctx.cold_s = time.perf_counter() - t0
    for k in range(ctx.cycles):
        main.cycle(k)
    if ctx.traced:
        ctx.log_files = _tree(main.z.log_path)
        ctx.lake_files = len(_tree(main.z.lake["orders"])) + len(_tree(main.z.lake["lineitem"]))


def check_live(ctx) -> None:
    ctx.main.verify(ctx.tally)
    ctx.latest = ctx.spark.read.parquet(ctx.main.z.lake["orders"] + "__latest").toPandas()


def check_offline(ctx) -> None:
    """The ``__latest`` zone equals a DuckDB row_number()-latest over every
    landed source file of table A: the reference view's semantics."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        expected = con.execute(
            "SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
            "(PARTITION BY o_orderkey ORDER BY modified_ts DESC) AS rn "
            f"FROM read_parquet('{ctx.main.z.src['orders']}/*.parquet')) WHERE rn = 1"
        ).df()
    finally:
        con.close()
    why = checks.frames_equal(ctx.latest, expected)
    ctx.tally.record(why is None, f"__latest zone: {why}")
    by = {}
    for op in ctx.ops:
        by.setdefault(op.kind, []).append(op.seconds)
    runs = [r for r in ctx.main.runs if r[0] == "run" and r[3] is not None]
    reads = [s for k in READS for s in by.get(k, [])]
    ctx.report.update(
        {
            "ingest_cold_s": sum(by.get("cold", [0.0])),
            "ingest_batch_p50_s": statistics.median(by["run"]),
            "ingest_rows_per_s": sum(r[3].source_count for r in runs) / sum(by["run"]),
            "noop_rerun_p50_s": statistics.median(by["rerun"]),
            "lake_read_p50_s": statistics.median(reads),
        }
    )
    ctx.by_kind = by
    ctx.ingest_rows = sum(r[3].source_count for r in runs)


def layers(ctx) -> None:
    """Per-layer values of the traced run, over the timed section only."""
    tr, main, by = ctx.tracer, ctx.main, ctx.by_kind
    spans = lambda name: [s for s in tr.named(name) if ctx.measured(s)]  # noqa: E731
    groups = eventlog.read_dir(os.path.join(ctx.workdir, "events"))
    timed = eventlog.timed
    all_ops = eventlog.select(groups, timed)
    ingest = eventlog.select(groups, lambda t: timed(t) and t.split("/")[2] in ("cold", "run", "rerun"))
    reads = eventlog.select(groups, lambda t: timed(t) and t.split("/")[2] in READS)
    written = [_local(f) for _, _, _, res in main.runs if res is not None for f in res.files]
    bytes_written = _bytes(written)
    log_bytes = _bytes(ctx.log_files)
    read_times = [s for k in READS for s in by[k]]
    ctx.layer.update(
        {
            "exec.executor_cpu_s": all_ops.cpu_ns / 1e9,
            "exec.input_bytes": all_ops.input_bytes,
            "exec.shuffle_read_bytes": all_ops.shuffle_read_bytes,
            "exec.shuffle_write_bytes": all_ops.shuffle_write_bytes,
            "exec.spill_bytes": all_ops.spill_bytes,
            "exec.jobs": all_ops.jobs,
            "exec.stages": all_ops.stages,
            "exec.tasks": all_ops.tasks,
            "exec.task_skew": eventlog.median_skew(
                groups, [f"{ctx.workload}/{op.name}/" for op in ctx.ops]
            ),
            "ingest.watermark.log_read_s": sum(s.duration for s in spans("ingest.watermark.log_read")),
            "ingest.watermark.append_s": sum(s.duration for s in spans("ingest.watermark.append")),
            "ingest.watermark.appends": len(spans("ingest.watermark.append")),
            "ingest.watermark.log_files": len(ctx.log_files),
            "ingest.pipeline.self_s": sum(tr.self_time(s) for s in spans("ingest.pipeline.run")),
            "ingest.pipeline.jobs": ingest.jobs,
            "ingest.pipeline.source_bytes_read": ingest.input_bytes,
            "ingest.pipeline.files_written": len(written),
            "ingest.pipeline.bytes_written": bytes_written,
            "ingest.write_amplification": (bytes_written + main.latest_bytes + log_bytes) / main.landed_bytes,
            "ingest.merge.merge_latest_s": sum(s.duration for s in spans("ingest.merge.merge_latest")),
            "ingest.merge.bytes_rewritten": main.latest_bytes,
            "ingest.cold_load_s": sum(by["cold"]),
            "ingest.batch_p50_s": statistics.median(by["run"]),
            "ingest.noop_rerun_p50_s": statistics.median(by["rerun"]),
            "ingest.rows_per_s": ctx.ingest_rows / sum(by["run"]),
            "lake.read_lake_s": sum(by["read_lake"]),
            "lake.latest_view_s": sum(by["latest_view"]),
            "lake.latest_zone_s": sum(by["latest_zone"]),
            "lake.read_changes_s": sum(by["read_changes"]),
            "lake.read_p50_s": statistics.median(read_times),
            "lake.data_files": ctx.lake_files,
            "lake.bytes_read_per_row": reads.input_bytes / max(reads.input_records, 1),
        }
    )
