"""The benchmark's own arithmetic. Run with

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
from stats import ErrorTally, covered, is_py4j_call, self_time, tail  # noqa: E402


# -- tail percentile ---------------------------------------------------------
def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(1, 41)]  # 1..40, shuffled below
    samples = samples[::3] + samples[1::3] + samples[2::3]
    value, pct = tail(samples)
    assert value == 30.0  # 10 samples (31..40) lie beyond it
    assert pct == 75.0
    assert sum(s > value for s in samples) == 10


def test_tail_is_the_highest_such_percentile():
    samples = [float(i) for i in range(100)]
    value, pct = tail(samples)
    assert sum(s > value for s in samples) == 10
    # one step higher would leave only nine beyond
    assert sum(s > samples[samples.index(value) + 1] for s in samples) == 9
    assert pct == 90.0


def test_tail_with_too_few_samples_reports_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert tail([float(i) for i in range(10)]) == (9.0, 100.0)
    assert tail([float(i) for i in range(11)]) == (0.0, 100.0 / 11)
    with pytest.raises(ValueError):
        tail([])


# -- self time ---------------------------------------------------------------
def test_self_time_without_children_is_the_duration():
    assert self_time(1.0, 4.0, []) == 3.0


def test_self_time_nested_children_count_once():
    # child (2, 6) contains grandchild-like (3, 4); both are direct here
    assert self_time(0.0, 10.0, [(2.0, 6.0), (3.0, 4.0)]) == 6.0


def test_self_time_overlapping_children_count_union():
    assert self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0), (8.0, 9.0)]) == 4.0


def test_self_time_clips_children_to_the_parent():
    assert self_time(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0), (10.0, 11.0)]) == 2.0
    assert covered([(0.0, 1.0)], 2.0, 3.0) == 0.0


# -- py4j filter -------------------------------------------------------------
def test_only_call_commands_count():
    assert is_py4j_call("c\no1\ngetConf\ne\n")
    assert not is_py4j_call("m\nd\no12\ne\n")  # garbage-collection detach
    assert not is_py4j_call("r\nu\norg\ne\n")  # reflection lookup
    assert not is_py4j_call("i\njava.util.ArrayList\ne\n")  # constructor
    assert not is_py4j_call("")


# -- error tally -------------------------------------------------------------
def test_error_rate_counts_failed_over_attempted():
    t = ErrorTally()
    assert t.error_rate == 0.0
    for ok in (True, True, False, True):
        t.record(ok, "op")
    assert (t.attempted, t.failed) == (4, 1)
    assert t.error_rate == 0.25
    assert t.reasons == ["op"]


# -- event log ---------------------------------------------------------------
# Recorded from a local[2] Spark 4.1 session with adaptive execution off.
# Counts below are those the session's statusTracker reported at recording:
# - "w/op1/action": a 4-partition range repartitioned to 2 and summed, one
#   job of three stages with 4, 2 and 1 tasks;
# - "w/op2/assembly": a 3-partition range counted, one stage of 3 tasks;
# - an untagged one-partition count, one stage of 1 task.
# Kept are the events the parser reads, with the fields it ignores removed.
RECORDED = os.path.join(HERE, "data", "eventlog_small.jsonl")


def test_event_log_attributes_jobs_stages_tasks_per_group():
    with open(RECORDED, encoding="utf-8") as fh:
        groups = eventlog.parse(fh)
    g1, g2, untagged = groups["w/op1/action"], groups["w/op2/assembly"], groups[""]
    assert (g1.jobs, g1.stages, g1.tasks) == (1, 3, 7)
    assert (g2.jobs, g2.stages, g2.tasks) == (1, 1, 3)
    assert (untagged.jobs, untagged.stages, untagged.tasks) == (1, 1, 1)
    # both shuffles are written and read in full inside the one tagged job
    assert g1.shuffle_write_bytes > 0
    assert g1.shuffle_read_bytes == g1.shuffle_write_bytes
    assert g2.shuffle_write_bytes == 0 and g2.spill_bytes == 0
    assert g1.cpu_ns > 0


def test_event_log_select_and_skew():
    with open(RECORDED, encoding="utf-8") as fh:
        groups = eventlog.parse(fh)
    both = eventlog.select(groups, lambda t: t.startswith("w/"))
    assert (both.jobs, both.stages, both.tasks) == (2, 4, 10)
    skew = groups["w/op1/action"].slowest_stage_skew()
    assert skew is not None and skew >= 1.0


def test_event_log_skew_is_max_over_median_of_slowest_stage():
    g = eventlog.GroupStats(
        stage_tasks={1: [10, 10, 40], 2: [5, 5]}, stage_wall_ms={1: 50, 2: 20}
    )
    assert g.slowest_stage_skew() == 4.0
    assert eventlog.GroupStats().slowest_stage_skew() is None
