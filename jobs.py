"""spark-submit entry point: the full extraction job, end to end.

    spark-submit --py-files pdf_extractor_spark.zip jobs.py \
        --pages /path/to/pages_parquet --out /path/to/out \
        --run-id r42 [--resume] [--start 2019-01 --end 2021-12] \
        [--minutes-mode]

Stages (north-rule shape):
  read pages table → resume filter (manifest anti-join) →
  Engine-1 (Catalyst line/regex path) + Engine-2 (Arrow layout kernel,
  vacation adjustment fused) → output series tables →
  fill-if-empty MERGE into the keyed target →
  audit/lineage append → manifest append.

Everything is idempotent: re-running with --resume processes only new
urls; the keyed sink never overwrites non-empty cells.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from pdf_extractor_spark.engine1 import pipeline as e1  # noqa: E402
from pdf_extractor_spark.engine2 import pipeline as e2  # noqa: E402
from pdf_extractor_spark.session import get_spark  # noqa: E402
from pdf_extractor_spark.sinks import audit, resume  # noqa: E402
from pdf_extractor_spark.sinks.tableio import get_table_io  # noqa: E402


def parse_period(s: str) -> tuple[int, int]:
    y, m = s.split("-")
    return int(y), int(m)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--start", default="2019-01")
    ap.add_argument("--end", default="2021-12")
    ap.add_argument("--minutes-mode", action="store_true")
    ap.add_argument("--salted-max-pages", type=int, default=None,
                    metavar="N",
                    help="skew mode: split documents longer than N pages "
                         "into parallel page-range chunks with exact "
                         "carry-state handoff (engine2/salted — output "
                         "pinned identical to the plain kernel); use when "
                         "single oversized documents dominate task time")
    ap.add_argument("--pdf-col", default=None,
                    help="treat --pages as (url, <col> binary) of raw PDF "
                         "bytes: the from-scratch object-stream parser "
                         "(ops/pdfstream.parse_pdf_layout) extracts word "
                         "boxes + page text into the pages-table contract "
                         "before both engines run — the reference's "
                         "headline path, end-to-end from bytes")
    ap.add_argument("--table-format", choices=["parquet", "iceberg"],
                    default="parquet",
                    help="parquet = snapshot dirs + version-hint pointer "
                         "(Hadoop FS API, object-store safe); iceberg = "
                         "native MERGE INTO/snapshots (needs runtime jars)")
    args = ap.parse_args()

    start, end = parse_period(args.start), parse_period(args.end)
    if start > end:
        # fail fast, before any output is written (reference
        # ficha_financeira_processor.py:187-188)
        ap.error(f"--start {args.start} must not be after --end {args.end}")

    spark = get_spark(f"extract-{args.run_id}")
    out = args.out.rstrip("/")
    if args.table_format == "iceberg":
        from pdf_extractor_spark.sinks.tableio import IcebergTableIO

        if not IcebergTableIO.available(spark):
            ap.error("--table-format iceberg requires the Iceberg "
                     "runtime jars + SQL extensions on the classpath")
    io = get_table_io(args.table_format, out)
    manifest = f"{out}/manifest"

    pages = spark.read.parquet(args.pages)
    if args.resume:
        # filter on raw input first: already-done documents are never
        # parsed (the front door below is the expensive stage)
        pages = resume.filter_resumable(pages, manifest)
    if args.pdf_col:
        from pdf_extractor_spark.ops.pdfstream import parse_pdf_layout

        # bytes front door: scan → mapInPandas, zero exchanges; emits
        # the same (url, html=WBX2 word boxes, text) contract the
        # synthetic pages table carries, so both engines are unchanged
        pages = parse_pdf_layout(pages, pdf_col=args.pdf_col)
    pages = pages.persist()
    if pages.limit(1).count() == 0:
        print(f"[{args.run_id}] nothing to process (resume manifest covers input)")
        return

    # ---- Engine 1 ------------------------------------------------------
    e1_values, e1_attention = e1.extract_folha(pages)
    e1_flat = e1_values.select(
        "url", "folha_type", "year", "month", "excel_col",
        F.coalesce(F.col("value")["txt"],
                   F.col("value")["num"].cast("string")).alias("value"),
    )
    # keyed fill-if-empty sink (Excel-cell semantics): MERGE INTO on
    # Iceberg, snapshot-dir + version-hint pointer flip on parquet —
    # either way no driver-local filesystem operations
    io.merge_fill_if_empty(
        spark, "e1_target", e1_flat,
        keys=["url", "folha_type", "year", "month", "excel_col"])
    io.append(e1_attention, "e1_attention")

    # ---- Engine 2 ------------------------------------------------------
    # A6 adjustment runs in the kernel's per-document finisher (both
    # paths; the salted one only changes how pages reach that finisher)
    if args.salted_max_pages:
        from pdf_extractor_spark.engine2.salted import extract_ficha_salted

        long_df = extract_ficha_salted(pages, max_pages=args.salted_max_pages)
    else:
        long_df = e2.extract_ficha(pages, adjust_vacation=True)
    long_df = long_df.persist()
    vals = e2.values_table(long_df)
    io.append(e2.default_series_table(vals, "3123-Base", start, end),
              "proventos")
    io.append(e2.default_series_table(vals, "8-Insalubridade", start, end),
              "insalubridade")
    io.append(e2.cartoes_table(vals, start, end,
                               minutes_mode=args.minutes_mode), "cartoes")
    io.append(e2.horas_trabalhadas_table(vals, start, end,
                                         minutes_mode=args.minutes_mode),
              "horas_trabalhadas")

    # ---- lineage + resume ----------------------------------------------
    classified = e1.classify_pages(e1.explode_pages(pages))
    io.append(audit.build_audit(e1.page_metrics(classified), args.run_id),
              "audit_e1")
    io.append(audit.build_audit(e2.metrics_table(long_df), args.run_id),
              "audit_e2")
    if args.pdf_col:
        # parse-level lineage (north-star metric triple: pages parsed,
        # decode failures, word/span counts) — straight off the cached
        # front-door output, per document + partition
        io.append(audit.build_audit(
            pages.select("url", "n_pages", "n_words", "decode_failures"),
            args.run_id), "audit_parse")
    resume.update_manifest(pages.select("url"), manifest, args.run_id)

    n = pages.count()
    print(f"[{args.run_id}] processed {n} documents → {out}")


if __name__ == "__main__":
    main()
