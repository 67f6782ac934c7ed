"""``headline_sf0.01``: the 18 ``bench=True`` registry queries at sf0.01.

One operation is ``fn(spark, sf_dir)`` followed by a noop write: what a
caller waits for, assembly plus action. The seed shuffles the order of
every pass. An untimed first pass collects every result; those results are
checked against the DuckDB oracles after Spark stops.
"""

from __future__ import annotations

import gc
import os
import re
import statistics
import time
import traceback

import checks
import eventlog
from stats import tail

SCALE = "sf0.01"
# Seconds of one warm pass on a 4-core host; ``--seconds`` is turned into
# whole passes at this rate.
PASS_SECONDS = 14.0

LAYER = (
    "sources.load_table_calls", "sources.load_table_s", "sources.schema_jobs",
    "plans.assembly_s", "plans.py4j_calls", "plans.eager_jobs",
    "plans.cached_frames_left", "catalyst.plan_s", "catalyst.plan_bytes",
    "exec.action_s", "exec.executor_cpu_s", "exec.input_bytes",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_skew",
)


def setup(ctx) -> None:
    from datalakeingestion_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    ctx.sf_dir = os.path.join(ctx.fixtures, SCALE)
    ctx.queries = {n: q for n, q in sorted(REGISTRY.items()) if q.bench}
    ctx.collected = {}
    ctx.tracer.tag("setup", "warmup")
    order = list(ctx.queries)
    ctx.rng.shuffle(order)
    t0 = time.perf_counter()
    for name in order:
        try:
            df = ctx.queries[name].fn(ctx.spark, ctx.sf_dir)
            ctx.collected[name] = df.toPandas()
        except Exception:
            traceback.print_exc()
    ctx.cold_s = time.perf_counter() - t0


def measure(ctx) -> None:
    spark, tracer = ctx.spark, ctx.tracer
    ctx.query_ops = []
    ctx.plan_s = ctx.plan_bytes = ctx.cached_left = 0
    for p in range(max(1, round(ctx.seconds / PASS_SECONDS))):
        order = list(ctx.queries)
        ctx.rng.shuffle(order)
        for name in order:
            op = f"p{p}:{name}"
            ctx.query_ops.append(op)
            if ctx.traced:
                persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
            tracer.tag(op, "assembly")
            # collector pauses, and the py4j detaches they trigger, stay
            # outside the timed interval
            gc.collect()
            t0 = time.perf_counter()
            try:
                with tracer.span("plans.fn"):
                    df = ctx.queries[name].fn(spark, ctx.sf_dir)
                assembly = time.perf_counter() - t0
                if ctx.traced:
                    _catalyst(ctx, df)
                tracer.tag(op, "action")
                t0 = time.perf_counter()
                with tracer.span("exec.action"):
                    df.write.format("noop").mode("overwrite").save()
                ctx.record("query", op, p, assembly + time.perf_counter() - t0, True)
            except Exception:
                traceback.print_exc()
                ctx.record("query", op, p, time.perf_counter() - t0, False)
            if ctx.traced:
                # frames this query left cached; one it unpersisted from an
                # earlier query does not offset them
                ctx.cached_left += max(
                    0, spark.sparkContext._jsc.getPersistentRDDs().size() - persisted
                )
                ctx.status_jobs += sum(
                    tracer.jobs_in_group(f"{ctx.workload}/{op}/{phase}")
                    for phase in ("assembly", "action", "assembly/load_table")
                )


def _catalyst(ctx, df) -> None:
    """Optimization and planning time of the built frame, and the size of
    its optimized plan text with expression ids stripped."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.executedPlan()
    ctx.plan_s += time.perf_counter() - t0
    ctx.plan_bytes += len(re.sub(r"#\d+L?", "#", qe.optimizedPlan().toString()))


def check_live(ctx) -> None:
    """Nothing to read back from Spark: results were collected at setup."""


def check_offline(ctx) -> None:
    """Every query once against its DuckDB oracle at the workload's scale."""
    con = checks.duck(ctx.sf_dir)
    cache = os.path.join(os.path.dirname(ctx.workdir), "oracle-cache")
    try:
        for name, qd in ctx.queries.items():
            got = ctx.collected.get(name)
            if got is None:
                ctx.tally.record(False, f"{name}: no result")
                continue
            expected = checks.oracle_result(con, qd.oracle, ctx.sf_dir, cache)
            why = checks.frames_equal(got, expected)
            ctx.tally.record(why is None, f"{name}: {why}")
    finally:
        con.close()
    samples = [op.seconds for op in ctx.ops]
    ctx.report.update(
        {
            "query_p50_s": statistics.median(samples),
            "query_tail_s": tail(samples)[0],
            "queries_per_s": len(samples) / ctx.timed_wall,
        }
    )


def layers(ctx) -> None:
    """Per-layer values of the traced run, over the timed passes only."""
    tr = ctx.tracer
    fn_spans = [s for s in tr.named("plans.fn") if ctx.measured(s)]
    load_spans = [s for s in tr.named("sources.load_table") if ctx.measured(s)]
    groups = eventlog.read_dir(os.path.join(ctx.workdir, "events"))
    timed = eventlog.timed
    all_ops = eventlog.select(groups, timed)
    assembly = eventlog.select(groups, lambda t: timed(t) and "/assembly" in t)
    schema = eventlog.select(groups, lambda t: timed(t) and t.endswith("/load_table"))
    ctx.layer.update(
        {
            "sources.load_table_calls": len(load_spans),
            "sources.load_table_s": sum(s.duration for s in load_spans),
            "sources.schema_jobs": schema.jobs,
            "plans.assembly_s": sum(s.duration for s in fn_spans),
            "plans.py4j_calls": sum(s.py4j_calls for s in fn_spans),
            "plans.eager_jobs": assembly.jobs,
            "plans.cached_frames_left": ctx.cached_left,
            "catalyst.plan_s": ctx.plan_s,
            "catalyst.plan_bytes": ctx.plan_bytes,
            "exec.action_s": sum(
                s.duration for s in tr.named("exec.action") if ctx.measured(s)
            ),
            "exec.executor_cpu_s": all_ops.cpu_ns / 1e9,
            "exec.input_bytes": all_ops.input_bytes,
            "exec.shuffle_read_bytes": all_ops.shuffle_read_bytes,
            "exec.shuffle_write_bytes": all_ops.shuffle_write_bytes,
            "exec.spill_bytes": all_ops.spill_bytes,
            "exec.jobs": all_ops.jobs,
            "exec.stages": all_ops.stages,
            "exec.tasks": all_ops.tasks,
            "exec.task_skew": eventlog.median_skew(
                groups, [f"{ctx.workload}/{op}/" for op in ctx.query_ops]
            ),
        }
    )
