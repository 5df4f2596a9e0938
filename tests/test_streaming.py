"""Streaming wrapper: incremental micro-batches produce exactly the
batch pipeline's output, and new files are picked up incrementally."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from pdf_extractor_spark import datagen
from pdf_extractor_spark.engine2 import pipeline as e2
from pdf_extractor_spark.streaming import stream_extract_ficha


def _await(q, timeout=120):
    q.awaitTermination(timeout)


def test_watermarked_audit_rollup_drops_late_rows(spark, tmp_path):
    """Event-time windowed audit agg: finalized 1h windows emit exactly
    once; rows arriving later than the watermark are dropped."""
    import datetime as dt

    import pandas as pd

    from pdf_extractor_spark.streaming import stream_audit_rollup

    pages_dir = str(tmp_path / "wpages")
    ckpt = str(tmp_path / "wckpt")
    t0 = dt.datetime(2025, 7, 14, 10, 0, 0)

    def mkfile(rows, name):
        pdf = pd.DataFrame([
            {"url": f"synth://x/{i}", "warc_ts": ts, "html": b"",
             "text": "t", "lang": lang}
            for i, (ts, lang) in enumerate(rows)
        ])
        spark.createDataFrame(pdf, datagen.PAGES_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(pages_dir)

    out_dir = str(tmp_path / "wout")

    def run(name):
        # separate availableNow runs share the checkpoint: the watermark
        # persists across restarts, which makes batch boundaries (and
        # therefore late-row semantics) deterministic — within one run
        # the file source's batch ordering is not guaranteed
        q = stream_audit_rollup(spark, pages_dir, out_dir, ckpt,
                                max_files_per_trigger=None)
        q.awaitTermination(180)

    # run 1: three docs in the 10:00 window → watermark 10:40-1h
    mkfile([(t0, "pt"), (t0 + dt.timedelta(minutes=20), "pt"),
            (t0 + dt.timedelta(minutes=40), "en")], "f1")
    run("wm_audit1")
    # run 2: far ahead (14:00) → watermark advances past 10:00+1h
    mkfile([(t0 + dt.timedelta(hours=4), "pt")], "f2")
    run("wm_audit2")
    # run 3: a LATE row back in the 10:00 window — beyond the watermark,
    # must be dropped; the finalized 10:00 windows emit in this run
    mkfile([(t0 + dt.timedelta(minutes=30), "pt")], "f3")
    run("wm_audit3")

    out = {(r.window_start.hour, r.lang): r.n_docs
           for r in spark.read.parquet(out_dir).collect()}
    # the 10:00 window finalized with the ON-TIME counts only
    assert out.get((10, "pt")) == 2, out
    assert out.get((10, "en")) == 1, out


def test_stream_matches_batch_and_is_incremental(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    first = spark.createDataFrame(datagen.corpus_pandas(20))
    first.write.mode("append").parquet(pages_dir)

    q = stream_extract_ficha(spark, pages_dir, out, ckpt)
    _await(q)

    got1 = spark.read.parquet(out)
    batch = e2.extract_ficha(spark.read.parquet(pages_dir))
    assert got1.drop("batch_id").count() == batch.count()

    # new arrivals only → second trigger processes just the delta
    second = spark.createDataFrame(datagen.corpus_pandas(12, start=1000))
    second.write.mode("append").parquet(pages_dir)
    q2 = stream_extract_ficha(spark, pages_dir, out, ckpt)
    _await(q2)
    time.sleep(0.5)

    got2 = spark.read.parquet(out)
    full_batch = e2.extract_ficha(spark.read.parquet(pages_dir))
    assert got2.drop("batch_id").count() == full_batch.count()
    # urls from the first batch were not re-processed (exactly-once)
    dups = (got2.filter(F.col("code") == "__metrics__")
            .groupBy("url").count().filter(F.col("count") > 1).count())
    assert dups == 0


def test_stream_ficha_replayed_batch_not_duplicated(spark, tmp_path):
    """A crash after the sink write but before the checkpoint commit
    makes the restart replay that micro-batch; the output must not
    gain rows (exactly-once, not at-least-once)."""
    import os

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(datagen.corpus_pandas(10)) \
        .write.mode("append").parquet(pages_dir)

    _await(stream_extract_ficha(spark, pages_dir, out, ckpt))
    n = spark.read.parquet(out).count()
    assert n > 0
    # simulate the crash: batch 0 is written but never committed
    for name in ("0", ".0.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    _await(stream_extract_ficha(spark, pages_dir, out, ckpt))
    assert spark.read.parquet(out).count() == n


def test_stream_dedup_exact_suppresses_cross_batch_dups(spark, tmp_path):
    """applyInPandasWithState: first occurrence of each content emitted
    exactly once; duplicates in later micro-batches (and later query
    restarts from the same checkpoint) are suppressed by keyed state."""
    import duckdb
    import pandas as pd

    from pdf_extractor_spark.streaming import stream_dedup_exact

    pages_dir = str(tmp_path / "dpages")
    out = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")

    def mkfile(rows):
        pdf = pd.DataFrame([
            {"url": u, "warc_ts": pd.Timestamp("2025-07-14"),
             "html": b"", "text": t, "lang": "en"}
            for u, t in rows
        ])
        spark.createDataFrame(pdf, datagen.PAGES_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(pages_dir)

    # batch 1: A twice (same content, different urls) + B
    mkfile([("u://2", "alpha beta gamma"), ("u://1", "alpha  beta gamma"),
            ("u://3", "delta epsilon")])
    _await(stream_dedup_exact(spark, pages_dir, out, ckpt))
    got = dict(duckdb.sql(
        f"SELECT content_hash, url FROM read_parquet('{out}/*.parquet')").fetchall())
    # min-url wins within the batch; normalization collapses whitespace
    assert sorted(got.values()) == ["u://1", "u://3"]

    # batch 2 (new file, fresh query, same checkpoint): copy of A + new C
    mkfile([("u://9", "alpha beta gamma"), ("u://4", "zeta eta")])
    _await(stream_dedup_exact(spark, pages_dir, out, ckpt))
    got2 = duckdb.sql(
        f"SELECT url FROM read_parquet('{out}/*.parquet') ORDER BY url").fetchall()
    assert [u for (u,) in got2] == ["u://1", "u://3", "u://4"]


def test_stream_extract_web_incremental(spark, tmp_path):
    """The web front door as a stream: micro-batches produce exactly
    the batch kernel's output, and a second availableNow run over the
    same checkpoint processes ONLY newly-arrived files."""
    from pdf_extractor_spark.ops.curate import extract_main_text
    from pdf_extractor_spark.queries import _wrap_html_col
    from pdf_extractor_spark.streaming import stream_extract_web

    pages_dir = str(tmp_path / "webpages")
    out_dir = str(tmp_path / "webout")
    ckpt = str(tmp_path / "webckpt")

    def mkfile(lo, hi):
        (spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            _wrap_html_col(F.col("id"),
                           F.concat(F.lit("stream doc body with plenty "
                                          "of real prose content number "),
                                    F.col("id").cast("string")))
            .alias("html_text"))
         .coalesce(1).write.mode("append").parquet(pages_dir))

    mkfile(0, 40)
    stream_extract_web(spark, pages_dir, out_dir, ckpt) \
        .awaitTermination(180)
    got1 = spark.read.parquet(out_dir)
    batch = extract_main_text(
        spark.read.parquet(pages_dir), with_metrics=True)
    assert ({(r.doc_id, r.text, r.n_nodes, r.n_kept)
             for r in got1.collect()}
            == {(r.doc_id, r.text, r.n_nodes, r.n_kept)
                for r in batch.collect()})

    mkfile(40, 55)          # append-only arrival of a new crawl segment
    stream_extract_web(spark, pages_dir, out_dir, ckpt) \
        .awaitTermination(180)
    got2 = spark.read.parquet(out_dir)
    assert got2.count() == 55
    assert {r.doc_id for r in got2.collect()} == set(range(55))
    # the increment really was incremental: first run's rows unchanged
    assert got2.filter(F.col("doc_id") < 40).count() == 40


def test_stream_extract_pdf_incremental(spark, tmp_path):
    """The PDF front door as a stream: batch-equal output, incremental
    file pickup over a shared checkpoint (possible precisely because
    page reassembly is kernel-local — no stateful operators)."""
    from pdf_extractor_spark.datagen import pdfs_from_documents
    from pdf_extractor_spark.ops.curate import extract_pdf_text
    from pdf_extractor_spark.streaming import stream_extract_pdf

    pages_dir = str(tmp_path / "pdfpages")
    out_dir = str(tmp_path / "pdfout")
    ckpt = str(tmp_path / "pdfckpt")

    def mkfile(lo, hi):
        base = spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("pdf stream document body text number "),
                     F.col("id").cast("string")).alias("text"))
        (pdfs_from_documents(base).coalesce(1)
         .write.mode("append").parquet(pages_dir))

    mkfile(0, 30)
    stream_extract_pdf(spark, pages_dir, out_dir, ckpt) \
        .awaitTermination(180)
    got1 = spark.read.parquet(out_dir)
    batch = extract_pdf_text(spark.read.parquet(pages_dir),
                             with_metrics=True)
    assert ({(r.doc_id, r.text, r.n_pages, r.decode_failures)
             for r in got1.collect()}
            == {(r.doc_id, r.text, r.n_pages, r.decode_failures)
                for r in batch.collect()})

    mkfile(30, 45)
    stream_extract_pdf(spark, pages_dir, out_dir, ckpt) \
        .awaitTermination(180)
    got2 = spark.read.parquet(out_dir)
    assert got2.count() == 45
    assert {r.doc_id for r in got2.collect()} == set(range(45))


def test_stream_extract_pdf_e2_incremental(spark, tmp_path):
    """The HEADLINE bytes path as a stream: raw ficha PDFs →
    parse_pdf_layout → Engine-2, batch-equal values, incremental file
    pickup over a shared checkpoint (the whole chain is stateless
    scan→mapInPandas maps)."""
    from pdf_extractor_spark.datagen import gen_e2_pdf_bytes
    from pdf_extractor_spark.engine2 import pipeline as e2
    from pdf_extractor_spark.ops.pdfstream import parse_pdf_layout
    from pdf_extractor_spark.streaming import stream_extract_pdf_e2

    pages_dir = str(tmp_path / "e2pages")
    out_dir = str(tmp_path / "e2out")
    ckpt = str(tmp_path / "e2ckpt")

    fichas = [i for i in range(200)
              if gen_e2_pdf_bytes(42, i)][:30]

    def mkfile(ids):
        rows = [{"url": f"synth://ficha/{i:08d}",
                 "pdf": gen_e2_pdf_bytes(42, i)} for i in ids]
        (spark.createDataFrame(rows, "url string, pdf binary")
         .coalesce(1).write.mode("append").parquet(pages_dir))

    def key_set(df):
        return {(r.url, r.code, r.year, r.month, str(r.value))
                for r in df.collect()}

    mkfile(fichas[:20])
    stream_extract_pdf_e2(spark, pages_dir, out_dir, ckpt) \
        .awaitTermination(180)
    got1 = spark.read.parquet(out_dir)
    batch = e2.extract_ficha(
        parse_pdf_layout(spark.read.parquet(pages_dir)),
        adjust_vacation=True)
    assert key_set(got1) == key_set(batch)

    mkfile(fichas[20:])     # a new crawl segment arrives
    stream_extract_pdf_e2(spark, pages_dir, out_dir, ckpt) \
        .awaitTermination(180)
    got2 = spark.read.parquet(out_dir)
    batch2 = e2.extract_ficha(
        parse_pdf_layout(spark.read.parquet(pages_dir)),
        adjust_vacation=True)
    assert key_set(got2) == key_set(batch2)
    assert len(key_set(got2)) > len(key_set(got1))
