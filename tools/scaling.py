"""N-vs-4N throughput scaling of the two product jobs (north rule:
efficiency >= 0.8 between N and 4N cores).

    python tools/scaling.py pdf_batch curate_html --pairs 10

For each workload it builds perfbench's seeded input at perfbench's
size, then runs --pairs pairs of legs at local[N] and local[4N], with
N = usable cores // 4, alternating which leg of a pair runs first. A
leg is one perfbench measured process (`run.run_child`, the benchmark's
run length) whose every job must pass perfbench's output checks; its
sample is perfbench's `docs_per_s`. The one stdout line is JSON: per
workload and leg the median, quartiles and sample count, and the
efficiency median(4N) / median(N) / 4. A failed leg stops the run with
exit status 1 and prints no efficiency.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from contextlib import redirect_stdout
from pathlib import Path
from statistics import median, quantiles

ROOT = Path(__file__).resolve().parents[1]
PERFBENCH = ROOT / "perfbench"
# not perfbench/.cache: its eviction would drop the benchmark's inputs
CACHE = ROOT / ".cache" / "scaling"
WORKLOADS = ("pdf_batch", "curate_html")
SEED = 1


class LegFailed(RuntimeError):
    """A measured process died or a job's outputs failed a check."""


def _perfbench():
    """perfbench's runner; its modules import each other top-level."""
    if str(PERFBENCH) not in sys.path:
        sys.path[:0] = [str(ROOT), str(PERFBENCH)]
    import run
    return run


def run_leg(workload: str, cores: int) -> float:
    """docs/s of one measured process at local[cores]."""
    run = _perfbench()
    from inputs import ensure_input

    (CACHE / "inputs").mkdir(parents=True, exist_ok=True)
    input_dir, expected, _ = ensure_input(
        str(CACHE / "inputs"), workload, SEED, run.SIZES[workload])
    seconds = json.loads((ROOT / "BENCHMARK.json").read_text())[
        "run_seconds"]
    work = CACHE / f"leg-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "eventlog", "out"):
        (work / d).mkdir(parents=True)
    try:
        _, driver_mem = run.host_sizing()
        try:
            res, t_spawn = run.run_child(workload, input_dir, work, seconds,
                                         0, cores, driver_mem)
        except RuntimeError as e:
            raise LegFailed(f"{workload} local[{cores}]: {e}") from e
        # the one stdout line is the harness's JSON
        with redirect_stdout(sys.stderr):
            decode_failed = run.check_jobs(workload, res["jobs"], expected)
            e2e = run.end_to_end(res, t_spawn, expected["docs"],
                                 decode_failed)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(1 for j in res["jobs"] if j["problems"])
    planted = len(expected.get("truncated", ()))
    if failed or decode_failed != planted:
        raise LegFailed(f"{workload} local[{cores}]: {failed} job(s) failed "
                        f"a check, {decode_failed} decode failures for "
                        f"{planted} planted")
    return e2e["docs_per_s"][0]


def summary(xs: list[float]) -> dict:
    q1, _, q3 = (quantiles(xs, n=4, method="inclusive") if len(xs) > 1
                 else xs * 3)
    return {"median": round(median(xs), 3), "q1": round(q1, 3),
            "q3": round(q3, 3), "n": len(xs)}


def measure(workloads: list[str], pairs: int, n: int, leg) -> dict:
    """Alternating pairs of `leg(workload, cores)` at n and 4n cores."""
    result = {}
    for workload in workloads:
        samples: dict[int, list[float]] = {n: [], 4 * n: []}
        for i in range(pairs):
            for cores in (n, 4 * n) if i % 2 == 0 else (4 * n, n):
                samples[cores].append(leg(workload, cores))
                print(f"{workload} pair {i} local[{cores}]: "
                      f"{samples[cores][-1]:.2f} docs/s", file=sys.stderr)
        result[workload] = {
            "legs": {f"local[{c}]": summary(xs) for c, xs in samples.items()},
            "efficiency": round(
                median(samples[4 * n]) / median(samples[n]) / 4, 3),
        }
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workloads", nargs="+", choices=WORKLOADS)
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    n = len(os.sched_getaffinity(0)) // 4
    if n < 1:
        ap.error("N-vs-4N needs at least 4 usable cores")
    try:
        result = measure(args.workloads, args.pairs, n, run_leg)
    except LegFailed as e:
        print(f"scaling: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # under the main guard: ensure_input builds inputs in a spawn pool,
    # whose workers import this module
    sys.exit(main())
