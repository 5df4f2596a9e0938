"""The extraction job's document pass: one Python call per url runs
the front door, both engines and the series writers.

The reference parses and extracts each PDF in one pass (one file is one
person's record). ``extract`` does the same under one ``mapInArrow``
behind one explicit url-hash exchange, ``repartition(n, "url")`` with
n from ``ops.layout.exchange_width`` (one partition per scan split's
worth of input bytes, rounded up to whole waves of the job's cores, so
a small input runs one task per core; AQE would coalesce a bare
``repartition("url")`` of a small input below the core count), sorted
within partitions by url, ``warc_ts`` when the input has it (nulls
last) and ``xxhash64`` of the content columns.
Every capture of a url then sits in one run of rows, and **the
earliest capture wins**: the kernel extracts the first row of each run
(a run may span Arrow batches) and skips the rest. The job's other two
rules agree: ``--resume`` anti-joins on the url manifest, so a later
capture of a processed url is never read, and ``e1_target``'s
fill-if-empty merge is first-writer-wins.

Without ``warc_ts`` (a raw ``(url, pdf)`` table) "earliest" is not
known, and the capture with the lowest content hash wins. A batch run
and a ``--resume`` run then agree on a recrawled url only when the
capture read first also has the lower hash; with ``warc_ts`` they
always agree (captures arriving in crawl order).

For the winning capture the kernel takes raw PDF bytes (``pdf_col``)
through the front door (``ops.pdfstream.layout_row``: WBX2 word-box
payload + form-feed joined page text), or a pages-table row's ``html``
and ``text``; runs Engine 1 (``engine1.kernel.extract_doc``) on the
text, Engine 2 (``engine2.kernel.extract_doc``, A6 on) on the payload
and the four output series' writers (``engine2.pipeline.writer_rows``)
on Engine 2's values. Rows are filtered as the staged path filters
them: Engine 1 skips null or empty text, Engine 2 a null or empty
payload, and a document with no Engine-2 value rows has no series
rows. Every capture gets one per-document row with the front door's
counters (``n_pages``, ``n_words``, ``decode_failures``), null for a
pages-table row and for a later capture, which is not parsed.

The output is one tagged long table (``src`` = ``e1`` / ``e2`` /
``series`` / ``doc``); ``e1_long``, ``e2_long``, ``series_long`` and
``doc_rows`` project it back to ``engine1.kernel.E1_LONG_SCHEMA``,
``engine2.kernel.E2_LONG_SCHEMA``, ``engine2.pipeline.SERIES_SCHEMA``
and the per-document counters, so every job table is a projection of
one persisted frame and each Python task pays its fixed start-up cost
once for all stages.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .engine1 import kernel as k1
from .engine2 import kernel as k2
from .engine2 import pipeline as p2
from .ops.layout import exchange_width

E1, E2, SERIES_SRC, DOC = "e1", "e2", "series", "doc"

# output table → Engine-2 series: a K2 value code, or the K3/K4 writer
SERIES = {"proventos": "3123-Base", "insalubridade": "8-Insalubridade",
          "cartoes": p2.CARTOES, "horas_trabalhadas": p2.HORAS}

E1_COLS = [n for n, _, _ in k1.E1_FIELDS]
DOC_COLS = ["url", "n_pages", "n_words", "decode_failures"]

# the union of the four row shapes; url, year, month and
# decode_failures are shared (same types on every side)
_FIELDS = [("src", "string", pa.string())] + k1.E1_FIELDS
_FIELDS += [f for f in k2.E2_FIELDS + p2.SERIES_FIELDS
            if f[0] not in {n for n, _, _ in _FIELDS}]
_FIELDS += [("n_pages", "int", pa.int32()), ("n_words", "int", pa.int32())]
DOCPASS_SCHEMA = ", ".join(f"{n} {t}" for n, t, _ in _FIELDS)
_ARROW_SCHEMA = pa.schema([(n, t) for n, _, t in _FIELDS])


def _part(src: str, names: list[str], rows: list[tuple]) -> pa.RecordBatch:
    """Rows of one shape (`names` order) → a batch of the full schema,
    null in every column the shape does not have."""
    n = len(rows)
    cols = dict(zip(names, zip(*rows)))
    return pa.RecordBatch.from_arrays(
        [pa.array([src] * n, f.type) if f.name == "src"
         else pa.array(cols[f.name], f.type) if f.name in cols
         else pa.nulls(n, f.type)
         for f in _ARROW_SCHEMA],
        schema=_ARROW_SCHEMA)


def _kernel(from_pdf: bool, start, end, minutes_mode: bool):
    series = tuple(SERIES.values())
    cols = ["url", "pdf"] if from_pdf else ["url", "html", "text"]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        if from_pdf:
            # imported here: a pages-table pass never loads the parser
            from pdf_extractor_spark.ops.pdfstream import layout_row
        last = object()     # the previous row's url, across batches
        for batch in batches:
            e1_rows: list[tuple] = []
            e2_rows: list[tuple] = []
            s_rows: list[tuple] = []
            doc_rows: list[tuple] = []
            for url, *payload in zip(*(batch.column(c).to_pylist()
                                       for c in cols)):
                if url == last:
                    # a later capture of the url just extracted
                    doc_rows.append((url, None, None, None))
                    continue
                last = url
                if from_pdf:
                    html, text, *counters = layout_row(payload[0])
                else:
                    (html, text), counters = payload, [None] * 3
                doc_rows.append((url, *counters))
                if text:
                    e1_rows += k1.extract_doc(url, text)
                if html:
                    rows, metrics = k2.extract_doc(url, html, text,
                                                   adjust_vacation=True)
                    e2_rows += rows
                    e2_rows.append(metrics)
                    if rows:
                        s_rows += p2.writer_rows(
                            url, [r[1:5] for r in rows], series, start,
                            end, minutes_mode)
            yield _part(E1, E1_COLS, e1_rows)
            yield _part(E2, k2.E2_LONG_COLS, e2_rows)
            yield _part(SERIES_SRC, p2.SERIES_COLS, s_rows)
            yield _part(DOC, DOC_COLS, doc_rows)

    return run


def extract(df: DataFrame, start, end, pdf_col: str | None = None,
            minutes_mode: bool = False) -> DataFrame:
    """(url, <pdf_col> binary) rows, or pages-table rows (url, html,
    text) when `pdf_col` is None, either with an optional ``warc_ts``
    → the tagged long table (``DOCPASS_SCHEMA``). `start`, `end` and
    `minutes_mode` are the series writers' (year, month) range and C6
    switch, the job's ``--start``, ``--end`` and ``--minutes-mode``."""
    content = ["pdf"] if pdf_col else ["html", "text"]
    ts = ["warc_ts"] if "warc_ts" in df.columns else []
    n = exchange_width(df)
    return (df.select("url", *ts, *([F.col(pdf_col).alias("pdf")]
                                    if pdf_col else content))
            .repartition(n, "url")
            .sortWithinPartitions("url",
                                  *(F.col(c).asc_nulls_last() for c in ts),
                                  F.xxhash64(*content))
            .select("url", *content)
            .mapInArrow(_kernel(pdf_col is not None, start, end,
                                minutes_mode), DOCPASS_SCHEMA))


def _rows(long_df: DataFrame, src: str, cols: list[str]) -> DataFrame:
    return long_df.filter(F.col("src") == src).select(*cols)


def e1_long(long_df: DataFrame) -> DataFrame:
    """Engine 1's long rows (``engine1.pipeline.split_long`` input)."""
    return _rows(long_df, E1, E1_COLS)


def e2_long(long_df: DataFrame) -> DataFrame:
    """Engine 2's long rows (``engine2.pipeline.values_table`` /
    ``metrics_table`` input)."""
    return _rows(long_df, E2, k2.E2_LONG_COLS)


def series_long(long_df: DataFrame) -> DataFrame:
    """The four series' rows (``engine2.pipeline.series_table`` input)."""
    return _rows(long_df, SERIES_SRC, p2.SERIES_COLS)


def doc_rows(long_df: DataFrame) -> DataFrame:
    """One row per input row (capture): (url, n_pages, n_words,
    decode_failures)."""
    return _rows(long_df, DOC, DOC_COLS)
