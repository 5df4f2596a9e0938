"""Structured-Streaming wrapper around the batch extraction pipeline.

The reference has no streaming surface (SURVEY §2.10) and its only
cross-input state (G5 block carry) is confined within one document, so
the correct streaming mapping is reuse of the exact batch kernels:
`readStream` over the pages location → the same stateless
scan→mapInPandas maps → parquet file sinks. No watermarks or
`transformWithState` are needed — there is no event-time or
cross-document state by construction.

On Iceberg this is `spark.readStream.format("iceberg")` (snapshot-id
incremental micro-batches); on the sandbox's plain parquet it's the
file stream source. `Trigger.AvailableNow` gives the catch-up /
backfill mode; continuous incremental ingestion just drops the trigger.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .datagen import PAGES_SCHEMA
from .engine2 import pipeline as e2


def _file_sink(df, out_path: str, checkpoint: str, available_now: bool):
    """Start `df` into an append-mode parquet file sink. Exactly-once at
    file granularity: the source tracks progress in the checkpoint, and
    the sink's metadata log skips a micro-batch it already committed
    when a restart replays it."""
    writer = (df.writeStream.format("parquet")
              .outputMode("append")
              .option("path", out_path)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract_ficha(
    spark: SparkSession,
    pages_path: str,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Incrementally extract newly-arrived page files.

    The Engine-2 kernel is a stateless scan→mapInPandas map (the
    narrow-input rebalance passes a streaming input through), so it
    runs on the streaming DataFrame directly into the parquet file sink
    (`_file_sink`).
    """
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_path)
    return _file_sink(e2.extract_ficha(stream), out_path, checkpoint,
                      available_now)


def stream_extract_web(
    spark: SparkSession,
    pages_path: str,
    out_path: str,
    checkpoint: str,
    html_col: str = "html_text",
    available_now: bool = True,
):
    """Streaming face of the web-tier front door: `readStream` over
    newly-arrived page files → the SAME batch boilerplate-strip kernel
    (`ops.curate.extract_main_text` is a stateless scan→mapInPandas
    map, so it runs on a streaming DataFrame unchanged — no
    foreachBatch needed) → append sink carrying extracted text plus
    the per-document extraction metrics/partition lineage.

    Exactly-once at file granularity via the checkpoint; on Iceberg
    the reader becomes `readStream.format("iceberg")` (snapshot-id
    incremental micro-batches) with identical downstream plan."""
    from .ops.curate import extract_main_text

    stream = (spark.readStream
              .schema(f"doc_id bigint, {html_col} string")
              .parquet(pages_path))
    ext = extract_main_text(stream, html_col=html_col, with_metrics=True)
    return _file_sink(ext, out_path, checkpoint, available_now)


def stream_extract_pdf(
    spark: SparkSession,
    pages_path: str,
    out_path: str,
    checkpoint: str,
    pdf_col: str = "pdf",
    available_now: bool = True,
):
    """Streaming face of the PDF front door. `extract_pdf_text` is a
    stateless scan→mapInPandas map (page reassembly is kernel-local —
    whole PDFs arrive one per row), so like the web tier it runs on a
    streaming DataFrame directly with no foreachBatch and no stateful
    operators."""
    from .ops.curate import extract_pdf_text

    stream = (spark.readStream
              .schema(f"doc_id bigint, {pdf_col} binary")
              .parquet(pages_path))
    ext = extract_pdf_text(stream, pdf_col=pdf_col, with_metrics=True)
    return _file_sink(ext, out_path, checkpoint, available_now)


def stream_extract_pdf_e2(
    spark: SparkSession,
    pages_path: str,
    out_path: str,
    checkpoint: str,
    pdf_col: str = "pdf",
    available_now: bool = True,
):
    """Streaming face of the HEADLINE bytes path: raw PDFs →
    `parse_pdf_layout` word boxes → the Engine-2 layout kernel — both
    stages are stateless scan→mapInPandas maps (document-local carry
    lives inside the kernel), so the whole chain runs on a streaming
    DataFrame directly: newly-crawled PDF files become ficha extraction
    rows incrementally, exactly-once at file granularity via the
    checkpoint (Iceberg: snapshot-id incremental reads, same plan)."""
    from .ops.pdfstream import parse_pdf_layout

    stream = (spark.readStream
              .schema(f"url string, {pdf_col} binary")
              .parquet(pages_path))
    long_df = e2.extract_ficha(parse_pdf_layout(stream, pdf_col=pdf_col),
                               adjust_vacation=True)
    return _file_sink(long_df, out_path, checkpoint, available_now)


def stream_audit_rollup(
    spark: SparkSession,
    pages_path: str,
    out_path: str,
    checkpoint: str,
    watermark: str = "1 hour",
    window_len: str = "1 hour",
    max_files_per_trigger: int | None = 1,
):
    """Event-time ingestion audit: documents per (1-hour warc_ts window,
    lang), watermarked for late data.

    This is the streaming face of the K5 audit table: at ingest time it
    answers "how many documents arrived per crawl-hour per language",
    tolerating `watermark` of out-of-order arrival and DROPPING rows
    later than that (the standard correctness/completeness trade —
    finalized windows are emitted exactly once in append mode, so the
    downstream audit table is append-only and idempotent).

    `max_files_per_trigger=1` makes the file source deliver one file
    per micro-batch so the watermark actually advances between batches
    (also the realistic shape: one crawl segment per batch).
    """
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(pages_path)
    agg = (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window_len).alias("w"), "lang")
        .agg(F.count("*").alias("n_docs"))
        .select(F.col("w").start.alias("window_start"),
                F.col("w").end.alias("window_end"), "lang", "n_docs")
    )
    # append-mode file sink: finalized windows land exactly once in the
    # audit parquet (recoverable from the checkpoint, unlike memory sink)
    return _file_sink(agg, out_path, checkpoint, available_now=True)


def stream_dedup_exact(
    spark: SparkSession,
    pages_path: str,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = 1,
):
    """Streaming exact dedup: emit each distinct document content
    exactly once across ALL micro-batches (first occurrence wins,
    min-url within a batch for determinism).

    The custom-stateful-operator tier (``applyInPandasWithState``):
    state is keyed by the content hash — one tiny counter per distinct
    document ever seen — so the state store is hash-partitioned and
    grows with *distinct* content, not stream length. On a real
    cluster back it with the RocksDB state store
    (``spark.sql.streaming.stateStore.providerClass``); semantics are
    identical. This is the continuous-ingestion face of
    ``ops.dedup.exact_duplicates``: the batch op reports duplicate
    groups retrospectively, this one suppresses them at arrival time.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .ops.dedup import content_hash

    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(pages_path).withColumn(
        "content_hash", content_hash(F.col("text")))

    def dedup(key, pdfs, state) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True)
        n_prev = state.get[0] if state.exists else 0
        state.update((n_prev + len(rows),))
        if n_prev == 0 and len(rows) > 0:
            first = rows.sort_values("url").iloc[[0]]
            yield first[["content_hash", "url", "lang"]]

    firsts = pages.groupBy("content_hash").applyInPandasWithState(
        dedup,
        outputStructType="content_hash string, url string, lang string",
        stateStructType="n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _file_sink(firsts, out_path, checkpoint, available_now)
