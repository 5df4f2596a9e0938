"""N vs 4N scaling evidence (north rule: efficiency ≥ 0.8).

Runs the same extraction job at local[8] and local[32] in separate
processes (fresh JVM each — no warm-code contamination), and prints
throughput at both and the scaling efficiency as one JSON line; paste
it into BENCH/BASELINE.md (this script does NOT rewrite it). Stand-in
for N vs 4N executors when no real cluster is available.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

WORKLOAD = r"""
import json, os, time, sys
sys.path.insert(0, {repo!r})
from pdf_extractor_spark.session import get_spark
from pyspark.sql import functions as F

cpus = {cpus}
spark = get_spark("scaling", master=f"local[{{cpus}}]", shuffle_partitions=max(8, cpus))
pages = spark.read.parquet({pages!r})

from pdf_extractor_spark.engine1 import pipeline as e1
from pdf_extractor_spark.engine2 import pipeline as e2

# 2 warm-up passes (JIT + codegen), then best-of-3 measured passes —
# min is robust against host-level CPU steal on this shared sandbox
t_e1, t_e2 = float("inf"), float("inf")
n_iters = int(__import__("os").environ.get("SCALING_ITERS", "5"))
warmups = 1 if n_iters <= 3 else 2
for it in range(n_iters):
    t0 = time.time()
    vals, att = e1.extract_folha(pages)
    # one action covering both outputs (values + attention): the two
    # branches share the persisted matched-lines table, so fusing the
    # counts into a single job avoids a second scheduling pass
    n1 = (vals.select(F.count("*").alias("n"))
          .unionAll(att.select(F.count("*").alias("n")))
          .agg(F.sum("n")).first()[0])
    d1 = time.time() - t0

    t0 = time.time()
    long_df = e2.extract_ficha(pages, adjust_vacation=True)
    adj = e2.values_table(long_df)
    n2 = adj.count()
    d2 = time.time() - t0
    spark.catalog.clearCache()
    if it >= warmups:
        t_e1, t_e2 = min(t_e1, d1), min(t_e2, d2)

n_folha = pages.filter(F.col("url").startswith("synth://folha")).count()
n_ficha = pages.filter(F.col("url").startswith("synth://ficha")).count()
n_pages = pages.count()
print("RESULT " + json.dumps({{
    "cpus": cpus, "t_e1": round(t_e1, 2), "t_e2": round(t_e2, 2),
    "docs_e1": n_folha, "docs_e2": n_ficha, "docs": n_pages,
    "thr_e1": round(n_folha / t_e1, 2), "thr_e2": round(n_ficha / t_e2, 2),
    "thr_total": round((n_folha + n_ficha) / (t_e1 + t_e2), 2),
}}))
"""


def run_at(cpus: int, pages_path: str, repo: str) -> dict:
    code = WORKLOAD.format(cpus=cpus, pages=pages_path, repo=repo)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, env=env, timeout=1800)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT line; stderr tail:\n{out.stderr[-2000:]}")


def main() -> None:
    repo = os.path.dirname(os.path.abspath(__file__))
    n_docs = int(os.environ.get("SCALING_DOCS", "2000"))

    # build the corpus once (shared input for both runs)
    from bench import corpus_path, ensure_corpus
    from pdf_extractor_spark.session import get_spark

    spark = get_spark("scaling-datagen", master="local[32]")
    pages_path = ensure_corpus(spark, n_docs)
    spark.stop()

    pair = os.environ.get("SCALING_PAIR", "8,32")
    n_lo, n_hi = (int(x) for x in pair.split(","))
    assert n_hi == 4 * n_lo, "pair must be N,4N"
    # SCALING_ROUNDS > 1: alternate the two legs and keep the best
    # throughput per config — the host's intermittent CPU steal hits
    # whichever leg is running, so alternating + best-of pairs up the
    # steal-free executions of BOTH legs (a single sequential pair
    # cannot: one leg's best may coincide with the other's worst).
    rounds = int(os.environ.get("SCALING_ROUNDS", "1"))

    def merge_best(acc: dict | None, r: dict) -> dict:
        if acc is None:
            return dict(r)
        for k in ("e1", "e2"):
            if r[f"thr_{k}"] > acc[f"thr_{k}"]:
                acc[f"thr_{k}"] = r[f"thr_{k}"]
                acc[f"t_{k}"] = r[f"t_{k}"]
        acc["thr_total"] = round(
            (acc["docs_e1"] + acc["docs_e2"]) / (acc["t_e1"] + acc["t_e2"]),
            2)
        return acc

    r8 = r32 = None
    for _ in range(rounds):
        r8 = merge_best(r8, run_at(n_lo, pages_path, repo))
        r32 = merge_best(r32, run_at(n_hi, pages_path, repo))

    eff_e1 = (r32["thr_e1"] / r8["thr_e1"]) / 4
    eff_e2 = (r32["thr_e2"] / r8["thr_e2"]) / 4
    eff_total = (r32["thr_total"] / r8["thr_total"]) / 4
    result = {"n8": r8, "n32": r32,
              "efficiency_e1": round(eff_e1, 3),
              "efficiency_e2": round(eff_e2, 3),
              "efficiency_total": round(eff_total, 3)}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
