"""Spark event log → per-layer table.

The traced run tags every Spark job a layer starts with the layer's
name as its job group (`setJobGroup`). The event log carries that group
in each job's and stage's properties, so each task can be charged to a
layer. Per layer this yields:

  gc_s                 JVM GC time of the layer's tasks
  task_skew            max / median task run time in its widest stage
  shuffle_write_bytes  shuffle bytes written
  spill_bytes          bytes spilled to disk
  py_bytes_out         SQL metric "data sent to Python workers"
  py_bytes_in          SQL metric "data returned from Python workers"
  records_written      rows the layer's tasks wrote to output files
  job_intervals        [submit, complete] of each job, epoch seconds

Wall time, CPU and row counts come from the spans themselves (see
compose.py); `driver_seconds` subtracts the job intervals from them.
"""

from __future__ import annotations

import json
from collections import defaultdict
from statistics import median

# task accumulable name → per-layer field
TASK_SUMS = {
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.output.recordsWritten": "records_written",
    "data sent to Python workers": "py_bytes_out",
    "data returned from Python workers": "py_bytes_in",
}
RUN_TIME = "internal.metrics.executorRunTime"


def _group(event: dict) -> str | None:
    return (event.get("Properties") or {}).get("spark.jobGroup.id")


def parse(lines) -> dict[str, dict]:
    """Per-group totals from the JSON lines of one event log."""
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    job_span: dict[int, list] = {}
    stage_tasks: dict[int, list[int]] = defaultdict(list)
    sums: dict[int, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            job_group[e["Job ID"]] = _group(e)
            job_span[e["Job ID"]] = [e["Submission Time"] / 1000.0, None]
            for s in e.get("Stage IDs", []):
                stage_group.setdefault(s, _group(e))
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_span:
            job_span[e["Job ID"]][1] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            stage_group[e["Stage Info"]["Stage ID"]] = _group(e)
        elif kind == "SparkListenerTaskEnd":
            stage = e["Stage ID"]
            for acc in e["Task Info"].get("Accumulables", []):
                name = acc.get("Name")
                try:
                    update = int(acc.get("Update") or 0)
                except (TypeError, ValueError):
                    continue
                if name == RUN_TIME:
                    stage_tasks[stage].append(update)
                elif name in TASK_SUMS:
                    sums[stage][TASK_SUMS[name]] += update

    out: dict[str, dict] = defaultdict(lambda: {
        "gc_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "records_written": 0, "py_bytes_out": 0, "py_bytes_in": 0,
        "task_skew": 0.0, "job_intervals": [], "_widest": (0, 0)})
    for stage, group in stage_group.items():
        if group is None or stage not in stage_tasks:
            continue            # untagged, or skipped (shuffle reused)
        g = out[group]
        for k, v in sums[stage].items():
            g[k] += v
        runs = stage_tasks[stage]
        width = (len(runs), sum(runs))
        if width > g["_widest"]:
            g["_widest"] = width
            g["task_skew"] = max(runs) / max(median(runs), 1)
    for job, group in job_group.items():
        t0, t1 = job_span[job]
        if group is not None and t1 is not None:
            out[group]["job_intervals"].append((t0, t1))
    for g in out.values():
        del g["_widest"]
    return dict(out)


def driver_seconds(spans: list[tuple[float, float]],
                   jobs: list[tuple[float, float]]) -> float:
    """Span time not covered by any Spark job: planning, codegen, py4j
    round trips and Python-side glue."""
    total = 0.0
    for s0, s1 in spans:
        covered, cursor = 0.0, s0
        for j0, j1 in sorted(jobs):
            j0, j1 = max(j0, cursor), min(j1, s1)
            if j1 > j0:
                covered += j1 - j0
                cursor = j1
        total += (s1 - s0) - covered
    return max(total, 0.0)
