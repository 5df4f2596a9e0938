"""The two jobs re-composed from their layers' public functions, one
span per layer call, for the traced run.

`extract` follows jobs.py (raw-PDF mode, batch) and `curate` follows
jobs_curate.py (--html-col, batch, MinHash), calling each layer in the
job's order. Each layer call is materialized once (persist + count)
inside its span, so its Spark jobs carry the layer's job group and its
rows are counted where the work happens. The outputs land in the same
tables the jobs write and go through the same checks, which catches
the composition drifting from the jobs.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from pdf_extractor_spark.engine1 import pipeline as e1
from pdf_extractor_spark.engine2 import pipeline as e2
from pdf_extractor_spark.ops.curate import (
    curate_corpus, curation_stage_counts, extract_main_text,
    qualified_hashes)
from pdf_extractor_spark.ops.dedup import (
    band_candidates, cap_megabuckets, minhash_lsh_pairs_with_bands,
    pick_minhash_shape)
from pdf_extractor_spark.ops.pdfstream import parse_pdf_layout
from pdf_extractor_spark.sinks import audit, resume
from pdf_extractor_spark.sinks.tableio import get_table_io

from inputs import PERIOD
from procfs import tree_cpu_s

E1_KEYS = ["url", "folha_type", "year", "month", "excel_col"]
GATES = dict(id_col="doc_id", text_col="text", min_tokens=5,
             max_digit_ratio=0.2, max_punct_ratio=0.3,
             keep_langs=("pt", "en"))     # jobs_curate.py defaults


class Tracer:
    """Spans in memory: layer, start/end (epoch s), process-tree CPU
    at both ends, and the rows the layer call took in and gave out."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.pid = os.getpid()
        self.spans: list[dict] = []

    @contextmanager
    def span(self, layer: str, rows_in: int = 0):
        self.sc.setJobGroup(layer, layer)
        rec = {"layer": layer, "rows_in": rows_in, "rows_out": 0,
               "cpu0": tree_cpu_s(self.pid), "t0": time.time()}
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            rec["cpu1"] = tree_cpu_s(self.pid)
            self.sc.setJobGroup("untraced", "untraced")
            self.spans.append(rec)


def _cached(df):
    df = df.persist()
    return df, df.count()


def extract(spark, tr: Tracer, input_dir: str, out: str,
            run_id: str) -> dict:
    io = get_table_io("parquet", out)
    start, end = PERIOD
    with tr.span("ops.pdfstream") as s:
        raw = spark.read.parquet(input_dir)
        s["rows_in"] = raw.count()
        pages, s["rows_out"] = _cached(parse_pdf_layout(raw, pdf_col="pdf"))
    n_pages = s["rows_out"]

    with tr.span("engine1.pipeline", n_pages) as s:
        e1_values, e1_attention = e1.extract_folha(pages)
        e1_flat, s["rows_out"] = _cached(e1_values.select(
            *E1_KEYS,
            F.coalesce(F.col("value")["txt"],
                       F.col("value")["num"].cast("string")).alias("value")))
        e1_attention, n_att = _cached(e1_attention)
    with tr.span("sinks", s["rows_out"] + n_att):
        io.merge_fill_if_empty(spark, "e1_target", e1_flat, keys=E1_KEYS)
        io.append(e1_attention, "e1_attention")

    with tr.span("engine2.kernel", n_pages) as s:
        long_df, s["rows_out"] = _cached(
            e2.extract_ficha(pages, adjust_vacation=True))
    with tr.span("engine2.pipeline", s["rows_out"]) as s:
        vals = e2.values_table(long_df)
        series = {
            "proventos": e2.default_series_table(vals, "3123-Base",
                                                 start, end),
            "insalubridade": e2.default_series_table(vals, "8-Insalubridade",
                                                     start, end),
            "cartoes": e2.cartoes_table(vals, start, end),
            "horas_trabalhadas": e2.horas_trabalhadas_table(vals, start, end),
        }
        for name, df in series.items():
            series[name], n = _cached(df)
            s["rows_out"] += n
    with tr.span("sinks", s["rows_out"]):
        for name, df in series.items():
            io.append(df, name)

    with tr.span("engine1.pipeline", n_pages) as s:
        classified = e1.classify_pages(e1.explode_pages(pages))
        page_metrics, s["rows_out"] = _cached(e1.page_metrics(classified))
    with tr.span("engine2.pipeline") as s2:
        e2_metrics, s2["rows_out"] = _cached(e2.metrics_table(long_df))
    with tr.span("sinks", s["rows_out"] + s2["rows_out"] + 2 * n_pages):
        io.append(audit.build_audit(page_metrics, run_id), "audit_e1")
        io.append(audit.build_audit(e2_metrics, run_id), "audit_e2")
        io.append(audit.build_audit(
            pages.select("url", "n_pages", "n_words", "decode_failures"),
            run_id), "audit_parse")
        resume.update_manifest(pages.select("url"), f"{out}/manifest", run_id)

    # layer ratio, counted outside the spans
    pages_found, failures, unparsed = pages.agg(
        F.sum("n_pages"), F.sum("decode_failures"),
        F.sum((F.col("n_pages") == 0).cast("int"))).first()
    attempted = (pages_found or 0) + (unparsed or 0)
    return {"ops.pdfstream.pages_decoded_frac":
            1.0 - min(failures or 0, attempted) / max(attempted, 1)}


def _write_run(df, path: str, run_id: str,
               keep_other_runs: bool = False) -> None:
    """jobs_curate.py's per-run write (batch run)."""
    w = df.withColumn("run_id", F.lit(run_id)).write.partitionBy("run_id")
    if keep_other_runs:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.mode("overwrite").parquet(path)


def curate(spark, tr: Tracer, input_dir: str, out: str,
           run_id: str) -> dict:
    with tr.span("ops.boilerplate") as s:
        raw, s["rows_in"] = _cached(spark.read.parquet(input_dir))
        docs, s["rows_out"] = _cached(extract_main_text(
            raw, html_col="html", id_col="doc_id", with_metrics=True))
    with tr.span("sinks", s["rows_out"]) as s:
        _write_run(docs, f"{out}/extracted", run_id)
        ext_run = (spark.read.parquet(f"{out}/extracted")
                   .filter(F.col("run_id") == run_id))
        metric_cols = [c for c in ext_run.columns
                       if c not in ("doc_id", "text", "run_id",
                                    "partition_id")]
        _write_run(ext_run.groupBy("partition_id")
                   .agg(F.count("*").alias("docs"),
                        *[F.sum(c).alias(c) for c in metric_cols])
                   .withColumn("audit_ts", F.current_timestamp()),
                   f"{out}/extract_audit", run_id, keep_other_runs=True)
        docs = ext_run.select("doc_id", "text")
        n_in = docs.count()

    with tr.span("ops.dedup", n_in) as s:
        pairs, banded = minhash_lsh_pairs_with_bands(
            docs, id_col="doc_id", text_col="text", threshold=0.8,
            scale_shape=pick_minhash_shape(n_in))
        banded, _ = _cached(banded)
        pairs, n_pairs = _cached(pairs)
        s["rows_out"] = n_pairs
    with tr.span("sinks", n_pairs):
        _write_run(pairs, f"{out}/near_dup_pairs", run_id)

    with tr.span("ops.curate", n_in) as s:
        kept, n_kept = _cached(curate_corpus(docs, near_dup_pairs=pairs,
                                             **GATES))
        curated, s["rows_out"] = _cached(raw.join(
            docs.join(kept.select("doc_id"), "doc_id", "left_semi")
            .select("doc_id", F.col("text").alias("main_text")), "doc_id"))
        stages, _ = _cached(curation_stage_counts(docs, near_dup_pairs=pairs,
                                                  **GATES))
        qh, _ = _cached(qualified_hashes(docs, **GATES))
    with tr.span("sinks", n_kept):
        _write_run(curated, f"{out}/curated", run_id)
        row = spark.createDataFrame(
            [(n_in, n_kept, n_pairs, "minhash", GATES["min_tokens"],
              GATES["max_digit_ratio"], GATES["max_punct_ratio"], "pt,en")],
            "input_docs long, kept_docs long, near_dup_pairs long, "
            "near_dup_mode string, min_tokens int, max_digit_ratio double, "
            "max_punct_ratio double, langs string")
        _write_run(row.withColumn("audit_ts", F.current_timestamp()),
                   f"{out}/audit", run_id, keep_other_runs=True)
        _write_run(stages, f"{out}/stage_counts", run_id,
                   keep_other_runs=True)
        _write_run(raw.select("doc_id"), f"{out}/state/manifest", run_id)
        _write_run(qh, f"{out}/state/qualified_hashes", run_id)
        _write_run(banded, f"{out}/state/bands", run_id)

    # layer ratios, counted outside the spans
    candidates = band_candidates(cap_megabuckets(banded)).count()
    return {"ops.dedup.pairs_kept_frac": n_pairs / max(candidates, 1),
            "ops.curate.kept_frac": n_kept / max(n_in, 1)}


COMPOSITIONS = {"pdf_batch": extract, "curate_html": curate}
