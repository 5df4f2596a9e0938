"""One measured process: set up Spark, run the job cold, then warm.

Started fresh by run.py for every run, so `setup_s` and the first job
see a cold JVM and a cold Python-worker pool, as one spark-submit does.
Warm jobs call the job's own `main()` in this process, each into a
fresh output directory, with the cache cleared in between. With
--trace 1 the traced composition (compose.py) runs last, with the
Spark event log on. Results go to <work>/result.json; run.py checks the
outputs and computes the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

from procfs import tree_cpu_s, tree_hwm_mb


def job_argv(workload: str, input_dir: str, out: str,
             run_id: str) -> list[str]:
    if workload == "pdf_batch":
        return ["jobs.py", "--pages", input_dir, "--pdf-col", "pdf",
                "--out", out, "--run-id", run_id]
    return ["jobs_curate.py", "--documents", input_dir, "--html-col", "html",
            "--out", out, "--run-id", run_id]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from pdf_extractor_spark.session import get_spark

    work = args.work
    conf = {
        "spark.local.dir": f"{work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    spark.range(1).count()
    result = {"ready_ts": time.time(), "jobs": []}

    import jobs
    import jobs_curate
    entry = jobs.main if args.workload == "pdf_batch" else jobs_curate.main
    pid = os.getpid()

    def run(kind: str, fn) -> None:
        k = len(result["jobs"])
        out = f"{work}/out/job-{k}"
        rec = {"kind": kind, "out": out, "error": None}
        cpu0, t0 = tree_cpu_s(pid), time.perf_counter()
        try:
            fn(out, f"r{k}")
        except Exception:
            traceback.print_exc()
            rec["error"] = traceback.format_exc(limit=3)
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_s(pid) - cpu0
        spark.catalog.clearCache()
        result["jobs"].append(rec)

    def plain(out: str, run_id: str) -> None:
        sys.argv = job_argv(args.workload, args.input, out, run_id)
        entry()

    run("cold", plain)
    warm0 = time.perf_counter()
    while True:
        run("warm", plain)
        if time.perf_counter() - warm0 >= args.seconds:
            break
    result["hwm_mb"] = tree_hwm_mb(pid)

    if args.trace:
        from compose import COMPOSITIONS, Tracer

        tracer = Tracer(spark)
        ratios = {}

        def traced(out: str, run_id: str) -> None:
            ratios.update(COMPOSITIONS[args.workload](
                spark, tracer, args.input, out, run_id))

        run("traced", traced)
        result["spans"] = tracer.spans
        result["ratios"] = ratios
    spark.stop()
    with open(f"{work}/result.json", "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
