"""Job-level benchmark for the extraction and curation jobs.

    python3 perfbench/run.py --workload pdf_batch --seed 1 --seconds 10 \
        --trace 0

One run: build (or reuse) the seeded input, start a fresh measured
process (child.py) on local[<nproc>], time set-up, one cold job and
warm jobs for --seconds, check every job's outputs against the oracles,
and print each metric with its unit. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"} — the end-to-end
metrics with --trace 0, the per-layer table with --trace 1.

Workloads, metrics and which layer metric should move which end-to-end
metric are described in perfbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path
from statistics import median

from procfs import host_steal_s, session_pids

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SIZES = {"pdf_batch": 120, "curate_html": 1200}   # PDFs / documents
CHILD_TIMEOUT_S = 165

LAYERS = ["ops.pdfstream", "ops.boilerplate", "engine1.pipeline",
          "engine2.kernel", "engine2.salted", "engine2.pipeline",
          "ops.dedup", "ops.curate", "sinks"]
KERNEL_LAYERS = {"ops.pdfstream", "ops.boilerplate", "engine2.kernel",
                 "engine2.salted"}
LAYER_METRICS = [("wall_s", "s"), ("driver_s", "s"), ("cpu_s", "s"),
                 ("gc_s", "s"), ("task_skew", "ratio"),
                 ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
                 ("rows_in", "count"), ("rows_out", "count")]
RATIOS = ["ops.pdfstream.pages_decoded_frac", "ops.dedup.pairs_kept_frac",
          "ops.curate.kept_frac"]


def host_sizing() -> tuple[int, str]:
    """(cores for local[N], driver memory): all usable cores, and 40 %
    of physical memory clamped to 2-16 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    gib = max(2, min(16, int(total_kb / 2**20 * 0.4)))
    return len(os.sched_getaffinity(0)), f"{gib}g"


def _kill_session(sid: int, timeout_s: float = 30.0) -> None:
    """SIGKILL every process of session `sid` until none is left. The
    Python-worker daemon moves itself into its own process group, so a
    killpg of the child's group alone would miss it."""
    deadline = time.time() + timeout_s
    while (pids := session_pids(sid)) and time.time() < deadline:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def run_child(workload: str, input_dir: str, work: Path, seconds: float,
              trace: int, nproc: int, driver_mem: str) -> tuple[dict, float]:
    """Run child.py in its own session; return (result, spawn time).
    Every process of the session is gone when this returns."""
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(nproc),
               SPARK_DRIVER_MEMORY=driver_mem,
               PYTHONPATH=os.pathsep.join([str(ROOT), str(HERE)]),
               TMPDIR=str(work / "tmp"),
               # keep the launcher JVM out of /tmp/hsperfdata_*
               SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
               PYSPARK_PYTHON=sys.executable)
    cmd = [sys.executable, str(HERE / "child.py"), "--workload", workload,
           "--input", input_dir, "--work", str(work),
           "--seconds", str(seconds), "--trace", str(trace)]
    with open(work / "child.log", "wb") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=CHILD_TIMEOUT_S)
        finally:
            # the JVM and the Python workers share the child's session
            _kill_session(proc.pid)
            proc.wait()
    if proc.returncode != 0 or not (work / "result.json").exists():
        tail = (work / "child.log").read_text(errors="replace")[-4000:]
        raise RuntimeError(f"measured process failed "
                           f"(exit {proc.returncode}):\n{tail}")
    with open(work / "result.json") as f:
        return json.load(f), t_spawn


def check_jobs(workload: str, jobs: list[dict], expected: dict) -> int:
    """Check each job's outputs; returns decode-failed docs of the first
    job. Marks failures in place as job["problems"]."""
    from checks import CHECKS, table_digests

    reference = None
    decode_failed = 0
    for i, job in enumerate(jobs):
        problems = [job["error"]] if job["error"] else []
        if not problems:
            bad, n_failed = CHECKS[workload](job["out"], expected)
            problems += bad
            digests = table_digests(workload, job["out"])
            if reference is None:
                reference, decode_failed = digests, n_failed
            problems += [f"{t}: differs from the run's first job"
                         for t, d in digests.items() if d != reference[t]]
        job["problems"] = problems
        for p in problems:
            print(f"job {i} ({job['kind']}) FAILED: {p}", file=sys.stderr)
    return decode_failed


def end_to_end(res: dict, t_spawn: float, docs: int,
               decode_failed: int) -> dict:
    jobs = res["jobs"]
    warm = [j for j in jobs if j["kind"] == "warm"]
    walls = sorted(j["wall_s"] for j in warm)
    failed = sum(1 for j in jobs if j["problems"])
    print(f"warm jobs: n={len(walls)} median_s={median(walls):.3f} "
          f"max_s={walls[-1]:.3f}")
    return {
        "setup_s": (res["ready_ts"] - t_spawn, "s"),
        "first_job_s": (jobs[0]["wall_s"], "s"),
        "docs_per_s": (docs / median(walls), "docs/s"),
        "cpu_s_per_kdoc": (median(j["cpu_s"] for j in warm) * 1000 / docs,
                           "s/kdoc"),
        "peak_rss_mb": (res["hwm_mb"], "MB"),
        "failed_ops_frac": (failed / len(jobs), "ratio"),
        "decode_fail_frac": (decode_failed / docs, "ratio"),
    }


def per_layer(res: dict, eventlog_dir: Path) -> dict:
    from eventlog import driver_seconds, parse

    logs = sorted(eventlog_dir.iterdir())
    with open(logs[-1]) as f:
        groups = parse(f)
    spans = res["spans"]
    out: dict[str, tuple[float, str]] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        g = groups.get(layer, {})
        vals = {
            "wall_s": sum(s["t1"] - s["t0"] for s in mine),
            "driver_s": driver_seconds([(s["t0"], s["t1"]) for s in mine],
                                       g.get("job_intervals", [])),
            "cpu_s": sum(s["cpu1"] - s["cpu0"] for s in mine),
            "gc_s": g.get("gc_ms", 0) / 1000.0,
            "task_skew": g.get("task_skew", 0.0),
            "shuffle_write_bytes": g.get("shuffle_write_bytes", 0),
            "spill_bytes": g.get("spill_bytes", 0),
            "rows_in": sum(s["rows_in"] for s in mine),
            # a sink's output is what its tasks wrote
            "rows_out": (g.get("records_written", 0) if layer == "sinks"
                         else sum(s["rows_out"] for s in mine)),
        }
        for name, unit in LAYER_METRICS:
            out[f"{layer}.{name}"] = (vals[name], unit)
        if layer in KERNEL_LAYERS:
            out[f"{layer}.py_bytes_out"] = (g.get("py_bytes_out", 0), "bytes")
            out[f"{layer}.py_bytes_in"] = (g.get("py_bytes_in", 0), "bytes")
    for name in RATIOS:
        out[name] = (res["ratios"].get(name, 0.0), "ratio")

    untraced = median(j["wall_s"] for j in res["jobs"] if j["kind"] == "warm")
    layer_wall = sum(s["t1"] - s["t0"] for s in spans)
    traced_wall = max(s["t1"] for s in spans) - min(s["t0"] for s in spans)
    out["trace.coverage_frac"] = (layer_wall / untraced, "ratio")
    out["trace.overhead_frac"] = ((traced_wall - untraced) / untraced,
                                  "ratio")
    if layer_wall / untraced < 0.9:
        print(f"WARNING trace.coverage_frac {layer_wall / untraced:.3f} "
              "< 0.9: the layers miss part of the job", file=sys.stderr)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="warm jobs start until this much time has passed")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    missing = [p for p in ("jobs.py", "jobs_curate.py",
                           "pdf_extractor_spark/session.py")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    from inputs import ensure_input

    nproc, driver_mem = host_sizing()
    print(f"host: SPARK_GRAFT_CPUS={nproc} SPARK_DRIVER_MEMORY={driver_mem}")
    cache = HERE / ".cache"
    (cache / "inputs").mkdir(parents=True, exist_ok=True)
    input_dir, expected, gen_s = ensure_input(
        str(cache / "inputs"), args.workload, args.seed, SIZES[args.workload])
    docs = expected["docs"]
    print(f"input: {args.workload} seed={args.seed} docs={docs} "
          f"generation_s={gen_s:.3f}")

    work = cache / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "eventlog", "out"):
        (work / d).mkdir(parents=True)
    try:
        steal0 = host_steal_s()
        res, t_spawn = run_child(args.workload, input_dir, work,
                                 args.seconds, args.trace, nproc, driver_mem)
        print(f"host steal during run: {host_steal_s() - steal0:.2f} s")
        decode_failed = check_jobs(args.workload, res["jobs"], expected)
        e2e = end_to_end(res, t_spawn, docs, decode_failed)
        layers = per_layer(res, work / "eventlog") if args.trace else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit) in {**e2e, **layers}.items():
        print(f"{name:<40} {value:>16.6g} {unit}")
    failed = sum(1 for j in res["jobs"] if j["problems"])
    planted = len(expected.get("truncated", ()))
    correct = failed == 0 and decode_failed == planted
    shown = layers if args.trace else {
        k: v for k, v in e2e.items()
        if k not in ("failed_ops_frac", "decode_fail_frac")}
    print(json.dumps({
        "correct": correct, "attempted": len(res["jobs"]), "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in shown.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
