"""Tests of the benchmark harness itself (not of the jobs).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

from digest import digest, read_rows
from eventlog import driver_seconds, parse
from procfs import tree_cpu_s, tree_hwm_mb, tree_pids


def test_digest_ignores_order_but_not_content():
    rows = [("a", 1), ("b", 2), ("c", 3), ("b", 2)]
    assert digest(rows) == digest(reversed(rows))
    assert digest(rows) == digest(sorted(rows))
    assert digest(rows) != digest(rows[:-1])          # duplicates count
    assert digest(rows) != digest([("a", 1), ("b", 2), ("c", 4), ("b", 2)])


def test_read_rows_drops_volatile_columns_and_follows_snapshot(tmp_path):
    table = tmp_path / "t"
    old, new = table / "snap-00000001", table / "snap-00000002"
    for d, v in ((old, 1), (new, 2)):
        d.mkdir(parents=True)
        pq.write_table(pa.table({"k": ["x", "y"], "v": [v, v],
                                 "run_id": ["r1", "r2"]}),
                       d / "part-0.parquet")
    (table / "version-hint.text").write_text("2")
    assert sorted(read_rows(str(table))) == [("x", 2), ("y", 2)]
    assert read_rows(str(table), ["k"]) == [("x",), ("y",)]
    assert read_rows(str(tmp_path / "missing")) == []


def _ev(kind: str, **kw) -> str:
    return json.dumps({"Event": kind, **kw})


def _task(stage: int, run_ms: int, **acc) -> str:
    accs = [{"Name": "internal.metrics.executorRunTime", "Update": run_ms}]
    accs += [{"Name": n, "Update": v} for n, v in acc.items()]
    return _ev("SparkListenerTaskEnd", **{"Stage ID": stage,
                                          "Task Info": {"Accumulables": accs}})


def _props(group: str | None) -> dict:
    return {"Properties": {"spark.jobGroup.id": group} if group else {}}


CANNED = [
    _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
                                    "Stage IDs": [0, 1]}, **_props("kernel")),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0}},
        **_props("kernel")),
    _task(0, 10, **{"internal.metrics.jvmGCTime": 3,
                    "data sent to Python workers": "100",
                    "data returned from Python workers": "40",
                    "internal.metrics.shuffle.write.bytesWritten": 7}),
    _task(0, 10, **{"data sent to Python workers": "50"}),
    _task(0, 40),
    _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 3000}),
    # stage 1 was listed but skipped: no tasks, so it must not count
    _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 4000,
                                    "Stage IDs": [2]}, **_props("sinks")),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 2}},
        **_props("sinks")),
    _task(2, 5, **{"internal.metrics.output.recordsWritten": 12,
                   "internal.metrics.diskBytesSpilled": 64}),
    _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 4500}),
    # untagged work (the untraced jobs) is ignored
    _ev("SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 5000,
                                    "Stage IDs": [3]}, **_props(None)),
    _task(3, 99),
    _ev("SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 6000}),
]


def test_eventlog_parser_charges_tasks_to_job_groups():
    g = parse(CANNED)
    assert set(g) == {"kernel", "sinks"}
    k = g["kernel"]
    assert (k["py_bytes_out"], k["py_bytes_in"]) == (150, 40)
    assert (k["gc_ms"], k["shuffle_write_bytes"]) == (3, 7)
    assert k["task_skew"] == 4.0                     # max 40 / median 10
    assert k["job_intervals"] == [(1.0, 3.0)]
    s = g["sinks"]
    assert (s["records_written"], s["spill_bytes"]) == (12, 64)
    assert s["task_skew"] == 1.0


def test_driver_seconds_subtracts_job_time():
    # span 0-10 s, jobs cover 1-3 and 2-4 (overlapping) and 9-12
    assert driver_seconds([(0.0, 10.0)],
                          [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]) == 6.0
    assert driver_seconds([(0.0, 1.0)], []) == 1.0


def test_proc_tree_counts_a_forked_child():
    burn = "import time\nt = time.process_time()\n" \
           "while time.process_time() - t < 0.5:\n    pass\n" \
           "input()\n"
    before = tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", burn],
                             stdin=subprocess.PIPE)
    try:
        while tree_cpu_s(child.pid) < 0.5:
            time.sleep(0.01)
        assert child.pid in tree_pids(os.getpid())
        assert tree_hwm_mb(os.getpid()) > tree_hwm_mb(child.pid) > 0
        mid = tree_cpu_s(os.getpid())
    finally:
        child.communicate(b"\n", timeout=30)
    after = tree_cpu_s(os.getpid())
    assert mid - before >= 0.5
    # the reaped child's CPU moved into our cutime: the sum never drops
    assert after >= mid
    assert child.pid not in tree_pids(os.getpid())
