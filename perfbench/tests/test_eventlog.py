"""The event-log parser on a small recorded log.

``data/eventlog_small.jsonl`` is a trimmed Spark 4 event log of a
local[2] session that ran one aggregation (job group ``g:agg:build``,
one job, two stages, four tasks) and then one ``mapInPandas`` collect
plus a ``count`` (job group ``g:udf:execute``, two jobs).
"""
import os

from perfbench import eventlog
from perfbench.trace import covered

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def summary():
    return eventlog.summarize(eventlog.read_events(LOG))


def test_groups_jobs_stages_tasks():
    s = summary()
    assert set(s) == {"g:agg:build", "g:udf:execute"}
    agg, udf = s["g:agg:build"], s["g:udf:execute"]
    assert (len(agg["jobs"]), agg["stages"], agg["tasks"]) == (1, 2, 4)
    assert (len(udf["jobs"]), udf["stages"], udf["tasks"]) == (2, 3, 5)
    for g in s.values():
        for start, end in g["jobs"]:
            assert end is not None and end >= start


def test_executor_totals():
    agg = summary()["g:agg:build"]
    assert agg["shuffle_write_bytes"] == 364
    assert agg["shuffle_read_bytes"] == 364
    assert abs(agg["task_s"] - 1.072) < 1e-9
    assert abs(agg["gc_s"] - 0.026) < 1e-9
    assert 0 < agg["cpu_s"] < agg["task_s"]
    assert agg["spill_bytes"] == agg["input_bytes"] == agg["output_bytes"] == 0


def test_python_worker_bytes_only_where_python_ran():
    s = summary()
    assert s["g:udf:execute"]["bytes_sent"] == 1184
    assert s["g:udf:execute"]["bytes_received"] == 1152
    assert s["g:agg:build"]["bytes_sent"] == 0
    assert s["g:agg:build"]["bytes_received"] == 0


def test_rolling_directory_reads_parts_in_order(tmp_path):
    lines = open(LOG).read().splitlines()
    half = len(lines) // 2
    (tmp_path / "events_2_app").write_text("\n".join(lines[half:]) + "\n")
    (tmp_path / "events_1_app").write_text("\n".join(lines[:half]) + "\n")
    assert eventlog.summarize(eventlog.read_events(str(tmp_path))) \
        == summary()


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1
    assert covered([], 0, 1) == 0
