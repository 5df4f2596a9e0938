"""Headline benchmark (driver contract).

Runs the flagship pipelines + representative operators at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], printing ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

The extraction corpus (pages table, BASELINE input shape) is generated
deterministically at a size proportional to the SF and cached as
parquet under /tmp so repeated runs measure extraction, not datagen.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from pdf_extractor_spark.datagen import corpus_df
from pdf_extractor_spark.session import get_spark

SF_DOCS = {"0.001": 100, "0.01": 1000, "0.1": 16000}


def calibration_probe(mib: int = 256) -> float:
    """Fixed-work single-thread CPU probe: sha256 over `mib` MiB of a
    constant buffer. The absolute seconds mean nothing by themselves;
    the RATIO of this field between two bench snapshots is the ambient
    host-contention factor of the measuring VM, so cross-round query
    timings can be compared steal-normalized (divide each round's
    timings by its calibration before comparing). Motivation: the
    round-4 driver snapshot ran during a ~2.2x host-steal episode and
    byte-identical code looked uniformly slower; this field makes that
    factor explicit instead of forensic."""
    import hashlib

    buf = b"\xa5" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(mib):
        h.update(buf)
    h.digest()
    return round(time.perf_counter() - t0, 4)


def sf_of(sf_dir: str) -> str:
    base = os.path.basename(sf_dir.rstrip("/"))
    return base.replace("sf", "") or "0.1"


def corpus_path(n_docs: int) -> str:
    from pdf_extractor_spark.datagen import DATAGEN_REV

    return f"/tmp/spark_graft_bench/corpus_r{DATAGEN_REV}_{n_docs}"


def ensure_corpus(spark, n_docs: int) -> str:
    path = corpus_path(n_docs)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        corpus_df(spark, n_docs).write.mode("overwrite").parquet(path)
    return path


def run_bench(spark, sf_dir: str) -> dict:
    cal_pre = calibration_probe()
    sf = sf_of(sf_dir)
    n_docs = SF_DOCS.get(sf, 2000)
    pages_path = ensure_corpus(spark, n_docs)
    pages = spark.read.parquet(pages_path)

    from pdf_extractor_spark import docpass
    from pdf_extractor_spark import queries as Q
    from pdf_extractor_spark.engine1 import pipeline as e1
    from pdf_extractor_spark.engine2 import pipeline as e2

    timings: dict[str, float] = {}
    counters: dict[str, int] = {}

    # the extraction job's document pass (both engines and the series
    # writers in one Python call per url), persisted as the job does;
    # each leaf counts its engine's tables off it
    def e1_rows(df):
        long_df = docpass.extract(df, (2019, 1), (2021, 12)).persist()
        vals, att, _ = e1.split_long(docpass.e1_long(long_df))
        n = vals.count() + att.count()
        long_df.unpersist()
        return n

    def e2_rows(df):
        long_df = docpass.extract(df, (2019, 1), (2021, 12)).persist()
        n = e2.series_table(docpass.series_long(long_df), "3123-Base").count()
        n += e2.metrics_table(docpass.e2_long(long_df)).count()
        long_df.unpersist()
        return n

    # JIT/codegen warm-up of the EXACT measured plans on a tiny corpus
    # so the measured numbers are steady-state throughput: an unwarmed
    # plan pays codegen + Python-worker pool growth inside the timed
    # section, which showed up as ±2-3x snapshot-to-snapshot spread
    warm = spark.read.parquet(ensure_corpus(spark, 100))
    e1_rows(warm)
    e2_rows(warm)
    spark.catalog.clearCache()

    def timed(name: str, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    # Engine-1: full extraction (values + attention) over the corpus
    counters["e1_rows"] = timed("e1_extract", lambda: e1_rows(pages))
    # Engine-2: layout kernel → adjustment → zero-filled formatted series
    counters["e2_rows"] = timed("e2_extract", lambda: e2_rows(pages))

    # representative relational + curation operators on the SF tables
    for qname in ("q1_pricing_summary", "w3_last_write_wins", "j7_asof_join",
                  "dedup_exact_hash", "text_lang_id", "sim_cosine_topk",
                  "text_repetition", "pack_sequences", "sample_mixture",
                  "decontaminate_13gram", "extract_main_content",
                  "pdf_parse_pages"):
        counters[qname] = timed(qname,
                                lambda qn=qname: Q.QUERIES[qn](spark, sf_dir).count())

    def bench_minhash():
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        from pdf_extractor_spark.ops.dedup import minhash_lsh_pairs

        aug = d.select("doc_id", "text").unionByName(
            d.select("doc_id", "text").filter(F.col("doc_id") < 25)
            .withColumn("doc_id", F.col("doc_id") + 1000000))
        return minhash_lsh_pairs(aug, threshold=0.8).count()

    counters["dedup_minhash_lsh"] = timed("dedup_minhash_lsh", bench_minhash)

    # flagship curation composition (quality → lang → exact dedup →
    # near-dup removal, incl. its own MinHash pass over the planted set)
    counters["curate_corpus"] = timed(
        "curate_corpus",
        lambda: Q.QUERIES["curate_corpus"](spark, sf_dir).count())

    n_folha = pages.filter(F.col("url").startswith("synth://folha")).count()
    n_ficha = pages.filter(F.col("url").startswith("synth://ficha")).count()

    cal_post = calibration_probe()
    total = round(sum(timings.values()), 3)
    return {
        "metric": "pipeline_total_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "corpus_docs": n_docs,
        "docs_per_sec_e1": round(n_folha / timings["e1_extract"], 2),
        "docs_per_sec_e2": round(n_ficha / timings["e2_extract"], 2),
        "rows": counters,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        # ambient-contention normalizer: compare two snapshots via
        # (timing / calibration_s) ratios, not raw seconds — see
        # calibration_probe docstring
        "calibration_s_pre": cal_pre,
        "calibration_s_post": cal_post,
        "calibration_s": round((cal_pre + cal_post) / 2, 4),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    result = run_bench(spark, sf_dir)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
