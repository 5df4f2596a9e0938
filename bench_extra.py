"""Extra benchmarks — noop-sink stage isolation (guide §1.4) for the
operators optimized in round 6. NOT part of the driver contract
(`bench.py` is the frozen headline bench); run ad hoc:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py

Prints one JSON line with best-of-N seconds per probe. Use min, not
median: this host takes external-steal episodes (see OPTIMIZATION_r06).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from pdf_extractor_spark.session import get_spark

REPS = 3


def best_of(fn, reps: int = REPS) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench_extra")
    sc = spark.sparkContext
    out: dict[str, float] = {}

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = d.select("doc_id", "text").unionByName(
        d.select("doc_id", "text").filter(F.col("doc_id") < 25)
        .withColumn("doc_id", F.col("doc_id") + 1000000))

    from pdf_extractor_spark.ops.dedup import (hashed_shingle_rows,
                                               minhash_lsh_pairs)

    sc.setJobDescription("shingle explode + hash (noop)")
    sh = hashed_shingle_rows(aug, "doc_id", "text", 5)
    out["shingle_hash_noop"] = best_of(lambda: noop(sh))

    sc.setJobDescription("minhash_lsh_pairs warm")
    out["minhash_warm"] = best_of(
        lambda: minhash_lsh_pairs(aug, threshold=0.8).count())

    from pdf_extractor_spark.datagen import pdfs_from_documents
    from pdf_extractor_spark.ops.pdfstream import parse_pdf_pages

    sc.setJobDescription("pdf render+parse (noop)")
    pp = parse_pdf_pages(pdfs_from_documents(d))
    out["pdf_render_parse_noop"] = best_of(lambda: noop(pp))

    from pdf_extractor_spark.engine1 import pipeline as e1

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    n_docs = {"0.001": 100, "0.01": 1000, "0.1": 16000}.get(sf, 2000)
    from bench import ensure_corpus

    pages = spark.read.parquet(ensure_corpus(spark, n_docs))
    sc.setJobDescription("e1 kernel (noop)")
    out["e1_kernel_noop"] = best_of(lambda: noop(e1.extract_long(pages)))
    sc.setJobDescription("e1 full warm")
    def e1_full():
        spark.catalog.clearCache()   # extract_folha persists its pass
        v, a = e1.extract_folha(pages)
        return v.count() + a.count()
    out["e1_full_warm"] = best_of(e1_full)

    sc.setJobDescription(None)
    print(json.dumps({"metric": "stage_isolation_seconds", "sf_dir": sf_dir,
                      "reps": REPS, "probes": out}))


if __name__ == "__main__":
    main()
