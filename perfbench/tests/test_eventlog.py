"""Event-log parser over a small recorded log.

The fixture was recorded from a ``local[2]`` session with
``spark.eventLog.compress=false`` running three job groups: a grouped
count (shuffle), a pandas UDF behind a repartition (Python stage) and a
plain ``count()``. Properties and accumulator lists were trimmed to
keep it small; every field the parser reads is as Spark wrote it.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


def _lines() -> list[str]:
    with open(FIXTURE, encoding="utf-8") as fh:
        return fh.read().splitlines()


@pytest.fixture(scope="module")
def stats():
    return eventlog.group_stats(eventlog.read_events(FIXTURE))


def test_groups_are_the_recorded_job_groups(stats):
    assert set(stats) == {"g_shuffle", "g_python", "g_count"}


def test_jobs_stages_tasks_per_group(stats):
    got = {g: (s.jobs, s.stages, s.tasks) for g, s in stats.items()}
    assert got == {"g_shuffle": (2, 2, 3), "g_python": (2, 2, 4), "g_count": (2, 2, 3)}
    assert all(s.failed_tasks == 0 for s in stats.values())


def test_only_the_pandas_udf_stage_is_a_python_stage(stats):
    assert stats["g_python"].python_stages == 1
    assert stats["g_python"].python_run_ms == 4851
    assert stats["g_shuffle"].python_stages == stats["g_count"].python_stages == 0


def test_task_metrics_sum_per_group(stats):
    s = stats["g_shuffle"]
    assert (s.run_ms, s.cpu_ns, s.gc_ms) == (767, 345441229, 55)
    assert (s.shuffle_write_bytes, s.shuffle_write_records, s.shuffle_read_bytes) == (339, 14, 339)
    assert s.spill_bytes == 0


def test_task_sums_match_a_direct_count():
    run_ms = 0
    for line in _lines():
        ev = json.loads(line)
        if ev["Event"] == "SparkListenerTaskEnd":
            run_ms += ev["Task Metrics"]["Executor Run Time"]
    stats = eventlog.group_stats(eventlog.read_events(FIXTURE))
    assert eventlog.total(stats, stats).run_ms == run_ms


def test_total_ignores_missing_groups(stats):
    t = eventlog.total(stats, ["g_count", "no_such_group"])
    assert (t.jobs, t.tasks) == (2, 3)


def test_torn_last_line_is_skipped(tmp_path):
    lines = _lines()
    torn = tmp_path / "torn.jsonl"
    torn.write_text("\n".join(lines) + "\n" + lines[-1][: len(lines[-1]) // 2])
    assert len(list(eventlog.read_events(str(torn)))) == len(lines)


def test_torn_middle_line_raises(tmp_path):
    lines = _lines()
    bad = tmp_path / "bad.jsonl"
    bad.write_text("\n".join([lines[0], "{not json", *lines[1:]]) + "\n")
    with pytest.raises(json.JSONDecodeError):
        list(eventlog.read_events(str(bad)))
