"""spark-submit entry point: corpus curation, end to end.

    spark-submit --py-files dist/pdf_extractor_spark.zip jobs_curate.py \
        --documents /path/to/documents_parquet --out /path/to/out \
        --run-id c1 [--near-dup minhash|simhash|none] \
        [--min-tokens 5 --max-digit-ratio 0.2 --max-punct-ratio 0.3] \
        [--langs pt,en] [--threshold 0.8] [--resume]

Stages (the `ops.curate` composition over a documents table):
  quality gate → language filter → exact dedup → near-dup pair
  generation (MinHash-LSH or SimHash) → near-dup removal →
  curated corpus + pair table + curation audit row.

Outputs under --out commit through the run-keyed protocol in
`sinks/tableio.py`: every artifact is partitioned by run_id and a write
replaces the run's own partition, so RETRYING a crashed run with the
same run_id (with or without --resume) does not append duplicate rows;
batch runs clear prior runs, the state/ checkpoint commits last, and a
retry ignores any partial state its crashed attempt left. A retry under
a NEW run_id is not covered: the crashed run's partial partitions stay.
  curated/         kept documents, all input columns preserved
  near_dup_pairs/  (a, b, …) pair evidence (when --near-dup != none)
  audit/           one row per run: input/kept/pair counts + parameters
  stage_counts/    per-stage drop accounting (stage, n_docs): each
                   document's first failing gate — quality / language /
                   exact_dup / near_dup / kept; sums to input_docs
  state/           resume checkpoint: manifest/ (processed ids),
                   qualified_hashes/ (gate-surviving content hashes),
                   bands/ (the MinHash-LSH band index)
  extracted/       (front-door modes) the per-run extracted (doc_id,
                   text, extraction metrics, partition_id) table,
                   partitioned by run_id — the artifact every
                   downstream stage scans, and the store the
                   incremental Jaccard verify reads instead of
                   re-parsing html/pdf
  extract_audit/   (front-door modes) per-partition extraction lineage
                   + metrics per run: docs and node/kept/span counts
                   (html) or pages/lines/ops/decode-failure counts
                   (pdf) per extraction task

Optional Gopher-style repetition ceilings (--max-dup-word-frac /
--max-top-word-frac / --max-dup-bigram-frac) join the quality gate.

Web tier: pass --html-col <col> to treat that column as raw HTML —
the job then composes boilerplate strip (ops.boilerplate) with the
stages above, curating the EXTRACTED main text; curated/ additionally
carries a main_text column. Pass --pdf-col <col> instead to compose
the PDF object-stream parse (ops.pdfstream) the same way.

Resume (--resume): incremental curation over an APPEND-ONLY input
table (the Common-Crawl shape: new snapshots append pages). Only docs
missing from state/manifest are extracted and gated; exact dedup
anti-joins their hashes against state/qualified_hashes; near-dup pairs
come from the batch MinHash plan run over the new batch plus the
persisted band index (restricted to the buckets the batch touches), so
per-increment work scales with the increment — the corpus is never
re-banded. Jaccard verification re-shingles just the old candidate
docs, read back from extracted/ (front-door modes, so extraction never
re-runs) or from the input. Requires crawl-ordered ids (new ids >
already-processed ids): the job checks that the smallest new id is
above the largest id in state/manifest and otherwise exits non-zero
before writing anything. Under that ordering an incremental run keeps
exactly the docs a batch run over the union would keep
(pytest-pinned). Requires --near-dup minhash or none.

Cap-drift caveat (near_dup_pairs only): the megabucket cap drops LSH
buckets larger than max_bucket. If a bucket crosses the cap BETWEEN
increments, pairs already emitted by earlier runs stay in
near_dup_pairs/ even though a batch run over the union would have
suppressed that whole bucket — the accumulated pair table (and with
it the kept set) can then diverge from the batch run: incremental
removes near-dups the batch cap would have let through. This is a
documented, deliberate asymmetry: max_bucket exists to bound the
quadratic verify cost, not to define dedup semantics, and dropping a
real near-dup the cap would have spared is the conservative side.
The batch≡incremental pins in tests/test_curate_resume.py and
tests/test_jobs_commit.py exercise buckets under the cap — the
operating regime.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from pdf_extractor_spark.ops.curate import (  # noqa: E402
    curate, extract_main_text, extract_pdf_text)
from pdf_extractor_spark.ops.dedup import (  # noqa: E402
    minhash_lsh_pairs_with_bands, simhash_pairs)
from pdf_extractor_spark.session import get_spark  # noqa: E402
from pdf_extractor_spark.sinks.tableio import get_table_io  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--near-dup", choices=["minhash", "simhash", "none"],
                    default="minhash")
    ap.add_argument("--threshold", type=float, default=0.8,
                    help="MinHash Jaccard threshold (minhash mode)")
    ap.add_argument("--max-hamming", type=int, default=3,
                    help="SimHash hamming radius (simhash mode)")
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--max-digit-ratio", type=float, default=0.2)
    ap.add_argument("--max-punct-ratio", type=float, default=0.3)
    ap.add_argument("--max-dup-word-frac", type=float, default=None)
    ap.add_argument("--max-top-word-frac", type=float, default=None)
    ap.add_argument("--max-dup-bigram-frac", type=float, default=None)
    ap.add_argument("--langs", default="pt,en")
    ap.add_argument("--html-col", default=None,
                    help="treat this column as raw HTML: boilerplate-"
                         "strip it first (web tier) and curate the "
                         "extracted main text")
    ap.add_argument("--pdf-col", default=None,
                    help="treat this column as PDF bytes: parse the "
                         "object streams (pdf tier) and curate the "
                         "reassembled page text")
    ap.add_argument("--resume", action="store_true",
                    help="incremental run over an append-only input: "
                         "process only docs missing from state/manifest "
                         "and dedup them against the persisted state "
                         "(assumes crawl-ordered ids; minhash or none)")
    args = ap.parse_args()
    if args.html_col and args.pdf_col:
        ap.error("--html-col and --pdf-col are mutually exclusive")
    if args.resume and args.near_dup == "simhash":
        ap.error("--resume supports --near-dup minhash or none")

    spark = get_spark(f"curate-{args.run_id}")
    out = args.out.rstrip("/")
    io = get_table_io("parquet", out)
    run_id = args.run_id
    raw_all = spark.read.parquet(args.documents).persist()
    orig_id = args.id_col
    extracted = args.html_col or args.pdf_col

    def front_door(df, with_metrics=False):
        """input rows → the (doc_id, text) shape the stages consume"""
        if args.html_col:
            # composed web tier: scan → mapInPandas boilerplate strip
            return extract_main_text(df, html_col=args.html_col,
                                     id_col=orig_id,
                                     with_metrics=with_metrics)
        if args.pdf_col:
            # composed pdf tier: scan → mapInPandas object-stream
            # parse, page reassembly kernel-local (zero exchanges)
            return extract_pdf_text(df, pdf_col=args.pdf_col,
                                    id_col=orig_id,
                                    with_metrics=with_metrics)
        return df

    # resume state EXCLUDES any partial rows a crashed attempt of THIS
    # run_id left behind — the retry regenerates them
    manifest = (io.read_state(spark, "state/manifest", run_id)
                if args.resume else None)
    resuming = manifest is not None

    old_hashes = old_bands = None
    if resuming:
        raw = raw_all.join(manifest.select(F.col("doc_id").alias(orig_id)),
                           orig_id, "left_anti").persist()
        first_new = raw.agg(F.min(orig_id)).first()[0]
        if first_new is None:
            print(f"[{run_id}] nothing to process "
                  "(state manifest covers input)")
            return
        last_done = manifest.agg(F.max("doc_id")).first()[0]
        if last_done is not None and first_new <= last_done:
            sys.exit(f"[{run_id}] --resume needs crawl-ordered ids: new id "
                     f"{first_new} is not above processed id {last_done}")
        old_hashes = io.read_state(spark, "state/qualified_hashes", run_id)
        old_bands = io.read_state(spark, "state/bands", run_id)
    else:
        raw = raw_all

    docs = front_door(raw, with_metrics=extracted)
    if extracted:
        # Materialize the extraction ONCE to a parquet artifact and
        # feed every downstream stage from that scan. Two reasons:
        # (1) pairs + curate + stage counts all read it — the kernel
        # must run once, not per consumer; (2) the MinHash pair plan
        # references its input 12 times, and each reference is a
        # vectorized FileScan over parquet but an InMemoryTableScan
        # row-cache read over a .persist() — measured 3× slower at
        # 200k-1M docs, identical results. run_id partitioning makes
        # increments append a new directory while batch runs overwrite
        # the table.
        io.write_run(docs, "extracted", run_id, resuming)
        ext_run = (io.read(spark, "extracted")
                   .filter(F.col("run_id") == run_id))
        # per-partition extraction lineage + metrics (north rule):
        # docs / node-span / pages-lines-ops / decode-failure totals
        # per extraction task, rolled up from the stored metric columns
        metric_cols = [c for c in ext_run.columns
                       if c not in ("doc_id", "text", "run_id",
                                    "partition_id")]
        io.write_run(ext_run.groupBy("partition_id")
                     .agg(F.count("*").alias("docs"),
                          *[F.sum(c).alias(c) for c in metric_cols])
                     .withColumn("audit_ts", F.current_timestamp()),
                     "extract_audit", run_id, True)
        docs = ext_run.select("doc_id", "text")
        id_col, text_col = "doc_id", "text"
    else:
        id_col, text_col = args.id_col, args.text_col
    n_in = docs.count()          # also the audit row

    banded = None
    if args.near_dup == "minhash":
        # an increment is the batch plan over the new docs plus the
        # persisted band index; old candidates are verified from
        # extracted/ when a front door ran (no re-parse of html/pdf:
        # every doc is extracted exactly once), else from the input
        old_docs = None
        if resuming:
            old_docs = (io.read(spark, "extracted").select("doc_id", "text")
                        if extracted else raw_all)
        pairs, banded = minhash_lsh_pairs_with_bands(
            docs, id_col=id_col, text_col=text_col,
            threshold=args.threshold, prior_bands=old_bands,
            prior_docs=old_docs)
        banded = banded.persist()
    elif args.near_dup == "simhash":
        pairs = simhash_pairs(docs, id_col=id_col, text_col=text_col,
                              max_hamming=args.max_hamming)
    else:
        pairs = None
    if pairs is not None:
        # materialized once: pair evidence is both an output artifact
        # and the anti-join input of the kept-set below
        pairs = pairs.persist()
        io.write_run(pairs, "near_dup_pairs", run_id, resuming)

    cur = curate(
        docs, pairs, seen_hashes=old_hashes,
        id_col=id_col, text_col=text_col,
        min_tokens=args.min_tokens,
        max_digit_ratio=args.max_digit_ratio,
        max_punct_ratio=args.max_punct_ratio,
        keep_langs=tuple(args.langs.split(",")),
        max_dup_word_frac=args.max_dup_word_frac,
        max_top_word_frac=args.max_top_word_frac,
        max_dup_bigram_frac=args.max_dup_bigram_frac)
    if extracted:
        # curated output = original columns + the extracted main_text
        curated = raw.join(
            docs.join(cur.kept.select("doc_id"), "doc_id", "left_semi")
            .select(F.col("doc_id").alias(orig_id),
                    F.col("text").alias("main_text")),
            orig_id)
    else:
        curated = docs.join(
            cur.kept.select(F.col("doc_id").alias(id_col)),
            id_col, "left_semi")
    io.write_run(curated, "curated", run_id, resuming)

    # per-stage drop accounting — second audit artifact; collected
    # once, and the audit row's kept_docs is its `kept` count, so the
    # two artifacts agree by construction
    stage_rows = cur.stage_counts.collect()
    io.write_run(spark.createDataFrame(stage_rows, cur.stage_counts.schema),
                 "stage_counts", run_id, True)
    n_kept = sum(r.n_docs for r in stage_rows if r.stage == "kept")
    n_pairs = pairs.count() if pairs is not None else 0
    audit = spark.createDataFrame(
        [(n_in, n_kept, n_pairs, args.near_dup,
          args.min_tokens, float(args.max_digit_ratio),
          float(args.max_punct_ratio), args.langs)],
        "input_docs long, kept_docs long, "
        "near_dup_pairs long, near_dup_mode string, min_tokens int, "
        "max_digit_ratio double, max_punct_ratio double, langs string")
    io.write_run(audit.withColumn("audit_ts", F.current_timestamp()),
                 "audit", run_id, True)

    # resume checkpoint — written LAST so a crash anywhere above leaves
    # the run re-runnable (the retry's read_state ignores this run_id's
    # partial partitions and the artifact writes overwrite them)
    ids_delta = raw.select(F.col(orig_id).alias("doc_id"))
    qh_delta = cur.qualified_hashes
    if resuming:
        # Cut lineage BEFORE mutating state: these plans read
        # state/manifest (through `raw`'s anti-join), and the first
        # write below would invalidate their caches
        # (CacheManager.recacheByPath) — a lazy re-evaluation would
        # then see the just-updated manifest and write EMPTY deltas.
        ids_delta = ids_delta.localCheckpoint()
        qh_delta = qh_delta.localCheckpoint()
        banded = banded.localCheckpoint() if banded is not None else None
    io.write_run(ids_delta, "state/manifest", run_id, resuming)
    io.write_run(qh_delta, "state/qualified_hashes", run_id, resuming)
    if banded is not None:
        io.write_run(banded, "state/bands", run_id, resuming)

    print(f"[{run_id}] curated {n_kept}/{n_in} documents "
          f"({n_pairs} near-dup pairs) → {out}")


if __name__ == "__main__":
    main()
