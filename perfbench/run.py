#!/usr/bin/env python3
"""The engine's benchmark: one workload per invocation, one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The engine is imported from this checkout
only; without it the run fails before printing a result. The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``, as ``BENCHMARK.json`` declares them. The line before it
reports the same run under the metric names of the layer map.

Closed loop with one client: a single driver thread issues the next
operation only after the previous one returns. Spark runs
``local[<cores>]`` with ``DRIVER_MEMORY``. ``--seconds`` is converted into
a whole number of query passes or ingest cycles at the nominal rate of a
4-core host (see the workload modules), so the parent and a change do the
same work. Everything a run writes stays under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"
WORKLOADS = ("headline_sf0.01", "ingest_cycle")


@dataclass
class Op:
    kind: str
    name: str
    round: int | None  # the pass or cycle it belongs to
    seconds: float
    ok: bool


@dataclass
class Context:
    workload: str
    seed: int
    seconds: int
    traced: bool
    workdir: str
    rng: random.Random
    spark: object = None
    tracer: object = None
    tally: object = None
    fixtures: str = ""
    ops: list[Op] = field(default_factory=list)
    timed_wall: float = 0.0
    cold_s: float = 0.0  # first round in the fresh process
    status_jobs: int = 0  # jobs of timed operations, per the status tracker
    layer: dict = field(default_factory=dict)  # per-layer values
    report: dict = field(default_factory=dict)  # layer-map names, untraced

    def record(self, kind: str, op: str, rnd: int | None, seconds: float, ok: bool) -> None:
        self.ops.append(Op(kind, op, rnd, seconds, ok))
        self.tally.record(ok, f"{op} raised")

    def run_op(self, kind: str, op: str, rnd: int | None, fn):
        """Time one operation; a raise counts as a failed operation."""
        self.tracer.tag(op, kind)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                out = fn()
            ok = True
        except Exception:
            traceback.print_exc()
            out, ok = None, False
        self.record(kind, op, rnd, time.perf_counter() - t0, ok)
        if self.traced:
            self.status_jobs += self.tracer.jobs_in_group(f"{self.workload}/{op}/{kind}")
        return out

    def measured(self, span) -> bool:
        return span.op not in ("setup", "check")


def _check_engine() -> None:
    """The engine must come from this checkout, not from an installed copy."""
    pkg = os.path.join(ROOT, "datalakeingestion_spark")
    if not os.path.isfile(os.path.join(pkg, "__init__.py")):
        sys.exit(f"perfbench: no engine package at {pkg}")
    sys.path.insert(0, ROOT)
    import datalakeingestion_spark

    origin = os.path.dirname(os.path.abspath(datalakeingestion_spark.__file__))
    if origin != pkg:
        sys.exit(f"perfbench: engine imported from {origin}, expected {pkg}")


def _environment(workdir: str) -> None:
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    # Python workers unpickle UDFs that reference the engine package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    import tempfile

    tempfile.tempdir = None


def _start_spark(ctx: Context):
    from datalakeingestion_spark.session import get_spark

    w = ctx.workdir
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(w, "local"),
        "spark.sql.warehouse.dir": os.path.join(w, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(w, 'tmp')}"
            f" -Dderby.system.home={os.path.join(w, 'derby')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.traced:
        os.makedirs(os.path.join(w, "events"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(w, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name=f"perfbench-{ctx.workload}", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _cpu_s(spark) -> float:
    """CPU seconds used so far by this driver and the JVM."""
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    t = os.times()
    return jvm + t.user + t.system


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop_spark(spark) -> float:
    """Stop Spark and its JVM, wait for the JVM to exit; returns the peak
    RSS in MB of this driver plus the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    peak_kb = _vm_hwm_kb(proc.pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    return peak_kb / 1024.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_setup = time.perf_counter()

    _check_engine()
    from stats import ErrorTally, tail
    from tracing import Tracer

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    ctx = Context(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        traced=bool(args.trace),
        workdir=workdir,
        rng=random.Random(args.seed),
        tracer=Tracer(bool(args.trace), args.workload),
        tally=ErrorTally(),
    )
    if args.workload == "ingest_cycle":
        import ingest_cycle as workload
    else:
        import headline as workload

    _environment(workdir)
    spark = None
    try:
        from datalakeingestion_spark.sources.fixtures import DEFAULT_SF_DIR

        ctx.fixtures = os.path.dirname(os.path.abspath(DEFAULT_SF_DIR))
        t0 = time.perf_counter()
        ctx.tracer.op = "setup"
        spark = ctx.spark = _start_spark(ctx)
        ctx.layer["session.get_spark_s"] = time.perf_counter() - t0
        ctx.tracer.attach(spark)
        ctx.tracer.install_wrappers()
        t0 = time.perf_counter()
        workload.setup(ctx)
        ctx.layer["session.warmup_s"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup

        t0 = time.perf_counter()
        cpu0 = _cpu_s(spark)
        workload.measure(ctx)
        ctx.timed_wall = time.perf_counter() - t0
        ctx.report["timed_cpu_s"] = _cpu_s(spark) - cpu0
        ctx.tracer.tag("check", "check")
        workload.check_live(ctx)
        peak_rss_mb = _stop_spark(spark)
        spark = None
        workload.check_offline(ctx)
        if ctx.traced:
            workload.layers(ctx)
            # cross-check of the event log's job attribution
            ctx.report["status_tracker_jobs"] = ctx.status_jobs
            ctx.report["event_log_jobs"] = ctx.layer["exec.jobs"]
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    samples = [op.seconds for op in ctx.ops]
    rounds: dict[int, float] = {}
    for op in ctx.ops:
        if op.round is not None:
            rounds[op.round] = rounds.get(op.round, 0.0) + op.seconds
    e2e = {"setup_s": setup_s, "round_s": statistics.median(list(rounds.values()))}
    op_tail, tail_pct = tail(samples)
    ctx.report.update(
        {
            "workload": ctx.workload,
            "seed": ctx.seed,
            "traced": ctx.traced,
            "rounds": len(rounds),
            "ops": len(samples),
            "op_p50_s": statistics.median(samples),
            "op_tail_s": op_tail,
            "op_tail_percentile": tail_pct,
            "cold_s": ctx.cold_s,
            "peak_rss_mb": peak_rss_mb,
            "error_rate": ctx.tally.error_rate,
            "failures": ctx.tally.reasons,
            "op_seconds": {op.name: op.seconds for op in ctx.ops},
            **e2e,
        }
    )
    print("perfbench report: " + json.dumps(ctx.report, sort_keys=True))
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        declared = json.load(fh)["per_layer" if ctx.traced else "end_to_end"]
    ctx.layer["trace.op_wall_s"] = sum(samples)
    ctx.layer["mem.peak_rss_mb"] = peak_rss_mb
    values = ctx.layer if ctx.traced else e2e
    if ctx.traced:
        # layers this workload does not exercise did no work in it
        for m in declared:
            if m["name"] not in workload.LAYER and m["name"] not in ctx.layer:
                values[m["name"]] = 0
    missing = {m["name"] for m in declared} - set(values)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(
        json.dumps(
            {
                "correct": ctx.tally.failed == 0,
                "attempted": ctx.tally.attempted,
                "failed": ctx.tally.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
