#!/usr/bin/env python3
"""Registry-wide traced profile: plan features against measured cost, one
row per registered query.

    python tools/profile_registry.py [query ...] > PROFILE.json

Run from the repository root. With no names, every registered query runs,
in name order. Each runs once at sf0.01 in one traced Spark session, as
``fn()`` plus a noop write, the operation the ``headline_sf0.01``
benchmark times. The session, job tags, py4j counts and event-log
attribution are perfbench's own (``perfbench/run.py``, ``tracing.py``,
``eventlog.py``, ``headline.py``), so a row and a traced benchmark run
measure the same way. Jobs are tagged ``profile/<query>/<phase>``:

- ``assembly``: jobs ``fn()`` runs before it returns (``eager_jobs``);
- ``assembly/load_table``: schema inference of a fixture file, the first
  time the session reads it (``schema_jobs``);
- ``plan``: Catalyst planning and the formatted plan, read after
  ``fn()`` returns;
- ``action``: the noop write.

Standard output is one JSON document ``{"scale", "cores", "spark",
"rows"}``, one row per line; everything else the engine or the JVM prints
goes to standard error. A query that raises gets its exception text in
``error`` and the sweep goes on. ``jobs`` counts the query's jobs in the
event log; ``status_tracker_jobs`` counts them again through
``statusTracker`` as a cross-check. Work files stay under
``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import gc
import json
import os
import random
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import eventlog  # noqa: E402
import headline  # noqa: E402
import run  # noqa: E402
from tracing import Tracer  # noqa: E402

WORKLOAD = "profile"
PHASES = ("assembly", "assembly/load_table", "plan", "action")
# Physical-plan node types counted in each query's formatted plan, as
# ``<node> (`` matches: Exchange also counts BroadcastExchange.
COUNTS = (
    "Exchange",
    "BroadcastExchange",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "Window",
    "Generate",
    "InMemoryTableScan",
)
EVENT_LOG_FIELDS = (
    "jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)
FIELDS = (
    "query", "assembly_s", "action_s", "py4j_calls", "eager_jobs",
    "schema_jobs", *EVENT_LOG_FIELDS, "status_tracker_jobs", "plan_bytes",
    "cached_frames_left", *COUNTS, "error",
)


def _wrap_pruned_events(tracer) -> None:
    """``load_events_pruned`` infers the events schema on its own, outside
    ``load_table``; tag its jobs the same way, at every module's binding."""
    from datalakeingestion_spark.sources import fixtures

    original = fixtures.load_events_pruned
    wrapped = tracer.wrap(original, "sources.load_table", phase="load_table")
    for mod in list(sys.modules.values()):
        if getattr(mod, "load_events_pruned", None) is original:
            mod.load_events_pruned = wrapped


def _profile(ctx, name: str, fn, sf_dir: str) -> dict:
    """Run one query; the row's driver-side fields, event-log ones later."""
    spark, tracer = ctx.spark, ctx.tracer
    row = dict.fromkeys(FIELDS)
    row["query"] = name
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    ctx.plan_s = ctx.plan_bytes = 0
    tracer.tag(name, "assembly")
    gc.collect()
    try:
        t0 = time.perf_counter()
        with tracer.span("plans.fn") as sp:
            df = fn(spark, sf_dir)
        row["assembly_s"] = round(time.perf_counter() - t0, 4)
        row["py4j_calls"] = sp.py4j_calls
        tracer.tag(name, "plan")
        headline._catalyst(ctx, df)
        plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        row["plan_bytes"] = ctx.plan_bytes
        row.update({c: plan.count(f"{c} (") for c in COUNTS})
        tracer.tag(name, "action")
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        row["action_s"] = round(time.perf_counter() - t0, 4)
    except Exception as exc:
        # a Py4JJavaError's first line only names the py4j call
        lines = [ln for ln in str(exc).splitlines() if ln.strip()
                 and not ln.startswith("An error occurred while calling")]
        row["error"] = f"{type(exc).__name__}: {lines[0] if lines else ''}"[:500]
    # frames this query left cached; cleared so the next query starts flat
    row["cached_frames_left"] = max(0, jsc.getPersistentRDDs().size() - persisted)
    spark.catalog.clearCache()
    row["status_tracker_jobs"] = sum(
        tracer.jobs_in_group(f"{WORKLOAD}/{name}/{p}") for p in PHASES
    )
    return row


def _event_log_fields(groups, name: str) -> dict:
    head = f"{WORKLOAD}/{name}/"
    q = eventlog.select(groups, lambda t: t.startswith(head))
    out = {
        "eager_jobs": groups.get(head + "assembly", eventlog.GroupStats()).jobs,
        "schema_jobs": groups.get(head + "assembly/load_table", eventlog.GroupStats()).jobs,
    }
    out.update({k: getattr(q, k) for k in EVENT_LOG_FIELDS})
    return out


def main(argv: list[str]) -> int:
    run._check_engine()
    from datalakeingestion_spark.plans.registry import REGISTRY, _ensure_loaded
    from datalakeingestion_spark.sources.fixtures import DEFAULT_SF_DIR

    _ensure_loaded()
    names = argv or sorted(REGISTRY)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"profile_registry: not registered: {unknown}")
    sf_dir = os.path.join(os.path.dirname(os.path.abspath(DEFAULT_SF_DIR)), headline.SCALE)
    workdir = os.path.join(ROOT, ".perfbench_work", f"{WORKLOAD}-{os.getpid()}")
    ctx = run.Context(
        workload=WORKLOAD, seed=0, seconds=0, traced=True, workdir=workdir,
        rng=random.Random(0), tracer=Tracer(True, WORKLOAD),
    )
    # the document alone goes to stdout; the engine's and the JVM's
    # output (the JVM inherits fd 1) goes to stderr
    sys.stdout.flush()
    out = os.fdopen(os.dup(1), "w", encoding="utf-8")
    os.dup2(2, 1)
    run._environment(workdir)
    spark = None
    try:
        spark = ctx.spark = run._start_spark(ctx)
        ctx.tracer.attach(spark)
        ctx.tracer.install_wrappers()
        _wrap_pruned_events(ctx.tracer)
        meta = {"scale": headline.SCALE, "cores": len(os.sched_getaffinity(0)),
                "spark": spark.version}
        rows = []
        for i, name in enumerate(names, 1):
            print(f"profile_registry: {i}/{len(names)} {name}", file=sys.stderr)
            rows.append(_profile(ctx, name, REGISTRY[name].fn, sf_dir))
        run._stop_spark(spark)
        spark = None
        groups = eventlog.read_dir(os.path.join(workdir, "events"))
    finally:
        if spark is not None:
            run._stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    for row in rows:
        row.update(_event_log_fields(groups, row["query"]))
    head = json.dumps(meta)[:-1]
    out.write(head + ', "rows": [\n')
    out.write(",\n".join(json.dumps(r) for r in rows))
    out.write("\n]}\n")
    out.close()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
