"""Repository tooling: tools/rotate_priority.py, tools/profile_registry.py,
and what tools/ may hold."""

from __future__ import annotations

import pytest

import json
import re
import subprocess
import sys


import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.smoke
def test_load_latest_green_tracks_round_and_requires_all_three(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from rotate_priority import load_latest_green

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "good": {"rows_match": True, "schema_match": True,
                 "hash_match": True},
        "rows_only": {"rows_match": True, "schema_match": True,
                      "hash_match": False},
        "errored": {"rows_match": False, "schema_match": False,
                    "hash_match": False, "err": "boom"},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "good2": {"rows_match": True, "schema_match": True,
                  "hash_match": True},
        # a later green supersedes an earlier failure
        "errored": {"rows_match": True, "schema_match": True,
                    "hash_match": True},
    }))
    got = load_latest_green(str(tmp_path))
    # rows-only never counts as green; the vintage is the LATEST green
    # round, which is what the staleness rotation sorts by (the r8
    # ledger drift came from narrating this instead of recomputing it)
    assert got == {"good": 1, "good2": 2, "errored": 2}


def test_registry_priority_is_exactly_the_recomputed_stalest_50():
    """The DRIVER_PRIORITY tuple must equal the tool's recomputation
    from the CORRECTNESS files: ROUND_TOUCHED queries first (r13,
    ADVICE — rewritten paths must land in the external sample), then
    never-checked, then checked ones by (latest green round,
    registration order). Keeping this pinned prevents the ledger from
    drifting from reality again."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    sys.path.insert(0, REPO)
    from rotate_priority import load_latest_green, pick_priority

    from datalakeingestion_spark.plans.registry import (
        DRIVER_PRIORITY,
        REGISTRY,
        ROUND_TOUCHED,
        _ensure_loaded,
    )

    _ensure_loaded()
    names = list(REGISTRY)
    latest = load_latest_green(REPO)
    assert DRIVER_PRIORITY == tuple(
        pick_priority(names, latest, ROUND_TOUCHED)
    )
    # every touched name must really exist in the registry (a typo here
    # silently shrinks the force-included head)
    missing = [n for n in ROUND_TOUCHED if n not in REGISTRY]
    assert missing == []


PROFILE_FIELDS = (
    "query", "assembly_s", "action_s", "py4j_calls", "eager_jobs",
    "schema_jobs", "jobs", "stages", "tasks", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "status_tracker_jobs", "plan_bytes", "codegen_compiles", "cached_frames_left",
    # the physical-plan node counts
    "Exchange", "BroadcastExchange", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "BatchEvalPython", "ArrowEvalPython", "MapInPandas",
    "FlatMapGroupsInPandas", "Window", "Generate", "InMemoryTableScan",
    "error",
)


@pytest.fixture(scope="module")
def profile_rows():
    """Two queries through the registry profiler, in its own process."""
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "profile_registry.py"),
            "q4_order_priority_exists",
            "training_shard_manifest",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    # stdout holds the JSON document and nothing else
    doc = json.loads(proc.stdout)
    assert doc["scale"] == "sf0.01"
    return doc["rows"]


def test_profile_registry_rows_carry_every_field(profile_rows):
    assert [r["query"] for r in profile_rows] == [
        "q4_order_priority_exists",
        "training_shard_manifest",
    ]
    for row in profile_rows:
        assert set(row) == set(PROFILE_FIELDS), row["query"]
        assert row["error"] is None, row
        assert row["assembly_s"] > 0 and row["action_s"] > 0
        assert row["py4j_calls"] > 0 and row["plan_bytes"] > 0
        # the action scans the fixtures
        assert row["input_bytes"] > 0


def test_profile_registry_attributes_eager_jobs(profile_rows):
    rows = {r["query"]: r for r in profile_rows}
    # a lazily built plan: no job before the action
    assert rows["q4_order_priority_exists"]["eager_jobs"] == 0
    # keyed_prefix_sum checkpoints and collects its subtotals in fn()
    assert rows["training_shard_manifest"]["eager_jobs"] >= 1
    # q4 is the first to read orders and lineitem in the fresh session;
    # their schema jobs are counted apart from the eager ones
    assert rows["q4_order_priority_exists"]["schema_jobs"] >= 1


def test_profile_registry_event_log_agrees_with_status_tracker(profile_rows):
    for row in profile_rows:
        assert row["jobs"] == row["status_tracker_jobs"], row
        assert row["jobs"] >= row["eager_jobs"] + row["schema_jobs"] + 1


# a tools/<name>.py citation, optionally pinned to the commit that holds it
_TOOL_CITATION = re.compile(r"(?<![\w/])tools/(\w+)\.py(\s*@\s*[0-9a-f]{7,40}\b)?")


@pytest.mark.smoke
def test_tools_hold_no_probe_scripts_and_citations_resolve():
    """Stale evidence cannot grow back: no probe script in tools/, and a
    cited tools/ script either exists or names the commit that holds it."""
    tools = os.path.join(REPO, "tools")
    assert [f for f in os.listdir(tools) if "probe" in f] == []
    docs = [os.path.join(REPO, f) for f in ("COVERAGE.md", "SCALE.md")]
    for base, _, files in os.walk(os.path.join(REPO, "datalakeingestion_spark")):
        docs += [os.path.join(base, f) for f in files if f.endswith(".py")]
    stale = []
    for path in docs:
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        for m in _TOOL_CITATION.finditer(text):
            if m.group(2) is None and not os.path.isfile(
                os.path.join(tools, m.group(1) + ".py")
            ):
                stale.append(f"{os.path.relpath(path, REPO)}: {m.group(0)}")
    assert stale == []


def _package_lines():
    """(path relative to the repo, line number, line) for every line of
    the package's modules."""
    for base, _, files in os.walk(os.path.join(REPO, "datalakeingestion_spark")):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(base, f)
            with open(path, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    yield os.path.relpath(path, REPO), i, line


@pytest.mark.smoke
def test_package_never_lists_with_listfiles():
    """Listing stays one ``listStatus`` per directory (``ingest.merge._walk``):
    ``FileSystem.listFiles`` builds a ``LocatedFileStatus``, block
    locations included, per file."""
    calls = [
        f"{path}:{i}" for path, i, line in _package_lines() if ".listFiles(" in line
    ]
    assert calls == []


@pytest.mark.smoke
def test_driver_rows_become_spark_data_one_way():
    """``utils.driver_frame`` is the package's only row-list-to-DataFrame
    path: the literal-frame renderer stays gone, and outside ``utils.py``
    ``createDataFrame(`` appears only in the pandas read of
    ``sources/files.py``, so a second path cannot grow back."""
    utils = os.path.join("datalakeingestion_spark", "utils.py")
    literal = [
        f"{path}:{i}"
        for path, i, line in _package_lines()
        if "local_rows_frame" in line
    ]
    assert literal == []
    calls = [
        (path, line.strip())
        for path, _, line in _package_lines()
        if "createDataFrame(" in line and path != utils
    ]
    assert calls == [
        (
            os.path.join("datalakeingestion_spark", "sources", "files.py"),
            "return spark.createDataFrame(pdf)",
        )
    ]
