"""spark-submit entry point: the full extraction job, end to end.

    spark-submit --py-files pdf_extractor_spark.zip jobs.py \
        --pages /path/to/pages_parquet --out /path/to/out \
        --run-id r42 [--resume] [--start 2019-01 --end 2021-12] \
        [--minutes-mode]

Stages (north-rule shape):
  read pages table (or raw PDF bytes) → resume filter (manifest
  anti-join) → one per-document Arrow pass (`pdf_extractor_spark/
  docpass.py`) behind one explicit url-hash exchange, persisted once:
  per url the earliest capture (by `warc_ts`, then a content hash; by
  the hash alone when the input has no `warc_ts`) is extracted and
  later captures are skipped; the pass runs the PDF front door with
  --pdf-col, Engine 1's line/regex kernel, Engine 2's layout kernel
  with the vacation adjustment fused and the writers of the four
  output series → fill-if-empty MERGE into the keyed target
  → audit/lineage tables (`audit_parse`: one row per input row, that
  is per capture) → manifest, written last. Every table is a
  projection of the one persisted frame.

Outputs other than the keyed target commit through the run-keyed
protocol in `sinks/tableio.py`, so a crashed run retried under its own
run_id, with or without --resume, ends with exactly a clean run's rows;
--resume processes only urls missing from the manifest, so a recrawl
of a url an earlier run processed is never read: its earlier capture
stays the answer, as in a batch run over both inputs when they carry
`warc_ts` (without it a batch run keeps the lower content hash, which
may be the later capture), and the keyed target never overwrites
non-empty cells. A retry under a NEW run_id is not covered: the
crashed run's partial partitions stay.
"""

from __future__ import annotations

import argparse
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from pdf_extractor_spark import docpass  # noqa: E402
from pdf_extractor_spark.docpass import SERIES  # noqa: E402
from pdf_extractor_spark.engine1 import pipeline as e1  # noqa: E402
from pdf_extractor_spark.engine2 import pipeline as e2  # noqa: E402
from pdf_extractor_spark.session import get_spark  # noqa: E402
from pdf_extractor_spark.sinks import audit  # noqa: E402
from pdf_extractor_spark.sinks.resume import manifest_rows  # noqa: E402
from pdf_extractor_spark.sinks.tableio import get_table_io  # noqa: E402


def parse_period(s: str) -> tuple[int, int]:
    """`YYYY-MM` → (year, month); anything else, a month outside 1-12
    included, is an argparse error (the series month range would roll
    2019-13 into 2020-01 without a word)."""
    ym = re.fullmatch(r"(\d{4})-(\d{2})", s)
    if not ym or not 1 <= int(ym[2]) <= 12:
        raise argparse.ArgumentTypeError(f"{s!r} is not a YYYY-MM month")
    return int(ym[1]), int(ym[2])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--start", type=parse_period, default="2019-01")
    ap.add_argument("--end", type=parse_period, default="2021-12")
    ap.add_argument("--minutes-mode", action="store_true")
    ap.add_argument("--pdf-col", default=None,
                    help="treat --pages as (url, <col> binary) of raw PDF "
                         "bytes: the from-scratch object-stream parser "
                         "(ops/pdfstream) extracts word boxes + page text "
                         "in the same per-document pass that runs both "
                         "engines, and audit_parse records its counters — "
                         "the reference's headline path, end-to-end from "
                         "bytes")
    ap.add_argument("--table-format", choices=["parquet", "iceberg"],
                    default="parquet",
                    help="parquet = snapshot dirs + version-hint pointer "
                         "(Hadoop FS API, object-store safe); iceberg = "
                         "native MERGE INTO/snapshots (needs runtime jars)")
    args = ap.parse_args()

    # fail fast, before Spark starts or any output is written
    if args.start > args.end:
        # reference ficha_financeira_processor.py:187-188
        ap.error("--start must not be after --end")

    spark = get_spark(f"extract-{args.run_id}")
    out = args.out.rstrip("/")
    if args.table_format == "iceberg":
        from pdf_extractor_spark.sinks.tableio import IcebergTableIO

        if not IcebergTableIO.available(spark):
            ap.error("--table-format iceberg requires the Iceberg "
                     "runtime jars + SQL extensions on the classpath")
    io = get_table_io(args.table_format, out)
    run_id = args.run_id
    done = io.read_state(spark, "manifest", run_id) if args.resume else None
    resuming = done is not None

    raw = spark.read.parquet(args.pages)
    if resuming:
        # filter on raw input first: already-done documents are never
        # parsed (the document pass below is the expensive stage)
        raw = raw.join(done.select("url"), "url", "left_anti")
    # front door + Engine 1 + Engine 2 + series writers in one Python
    # pass per url; every table below is a projection of its persisted
    # long table
    long_all = docpass.extract(
        raw, pdf_col=args.pdf_col, start=args.start, end=args.end,
        minutes_mode=args.minutes_mode).persist()
    docs = docpass.doc_rows(long_all)
    # one count materialises the pass and answers "anything to do?"
    n = docs.count()
    if n == 0:
        print(f"[{run_id}] nothing to process (resume manifest covers input)")
        return

    # ---- Engine 1 ------------------------------------------------------
    e1_values, e1_attention, e1_metrics = e1.split_long(
        docpass.e1_long(long_all))
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
    io.write_run(e1_attention, "e1_attention", run_id, resuming)

    # ---- Engine 2 ------------------------------------------------------
    # the A6 adjustment and the series writers already ran per document
    # in the pass above
    for name, series in SERIES.items():
        io.write_run(e2.series_table(docpass.series_long(long_all), series),
                     name, run_id, resuming)

    # ---- lineage + resume ----------------------------------------------
    # audit_parse holds one row per input row (capture) in both modes:
    # the front door's counters (pages parsed, words, decode failures)
    # with --pdf-col, nulls for a pages-table row or a later capture
    audits = {"audit_e1": e1_metrics,
              "audit_e2": e2.metrics_table(docpass.e2_long(long_all)),
              "audit_parse": docs}
    for name, df in audits.items():
        io.write_run(audit.build_audit(df, run_id), name, run_id, True)

    # manifest — written LAST, so a crash anywhere above leaves the run
    # unrecorded and re-runnable under the same run_id
    urls = manifest_rows(docs.select("url"))
    if resuming:
        # Cut lineage BEFORE writing: the document pass reads the
        # manifest (the anti-join above), and a plan must not read the
        # table its own write replaces; the write also invalidates
        # caches over that path (see the same cut in jobs_curate.py)
        urls = urls.localCheckpoint()
    io.write_run(urls, "manifest", run_id, resuming)
    print(f"[{run_id}] processed {n} documents → {out}")


if __name__ == "__main__":
    main()
