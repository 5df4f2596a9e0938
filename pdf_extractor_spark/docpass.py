"""The extraction job's document pass: front door and both engines in
one Python call per document.

The reference parses and extracts each PDF in one pass (one file is one
person's record). ``extract`` does the same under one ``mapInArrow``
after ``ops.layout.rebalance_narrow``: per input row it

* takes raw PDF bytes (``pdf_col``) through the front door
  (``ops.pdfstream.layout_row``: WBX2 word-box payload + form-feed
  joined page text), or a pages-table row's ``html`` and ``text``;
* runs Engine 1 (``engine1.kernel.extract_doc``) on the text;
* runs Engine 2 (``engine2.kernel.extract_doc``, A6 on) on the payload;
* emits one per-document row with the front door's counters
  (``n_pages``, ``n_words``, ``decode_failures``; null for a
  pages-table row).

Each document crosses JVM↔Python once, and each Python task pays its
fixed start-up cost once for all three stages. Rows are filtered
exactly as the staged path filters them: Engine 1 skips null or empty
text, Engine 2 a null or empty payload. The output is one tagged long
table (``src`` = ``e1`` / ``e2`` / ``doc``); ``e1_long``, ``e2_long``
and ``doc_rows`` project it back to ``engine1.kernel.E1_LONG_SCHEMA``,
``engine2.kernel.E2_LONG_SCHEMA`` and the per-document counters, so
every downstream table is a projection of one persisted frame.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .engine1 import kernel as k1
from .engine2 import kernel as k2
from .ops.layout import rebalance_narrow

E1, E2, DOC = "e1", "e2", "doc"

E1_COLS = [n for n, _, _ in k1.E1_FIELDS]
DOC_COLS = ["url", "n_pages", "n_words", "decode_failures"]

# the union of the three row shapes; url, year, month and
# decode_failures are shared (same types on both sides)
_FIELDS = ([("src", "string", pa.string())] + k1.E1_FIELDS
           + [f for f in k2.E2_FIELDS if f[0] not in E1_COLS]
           + [("n_pages", "int", pa.int32()), ("n_words", "int", pa.int32())])
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


def _kernel(from_pdf: bool):
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            urls = batch.column("url").to_pylist()
            if from_pdf:
                # imported here: a pages-table pass never loads the parser
                from pdf_extractor_spark.ops.pdfstream import layout_row

                docs = [(url, *layout_row(raw)) for url, raw in
                        zip(urls, batch.column("pdf").to_pylist())]
            else:
                docs = [(url, html, text, None, None, None)
                        for url, html, text in zip(
                            urls, batch.column("html").to_pylist(),
                            batch.column("text").to_pylist())]
            e1_rows: list[tuple] = []
            e2_rows: list[tuple] = []
            for url, html, text, *_counters in docs:
                if text:
                    e1_rows += k1.extract_doc(url, text)
                if html:
                    rows, metrics = k2.extract_doc(url, html, text,
                                                   adjust_vacation=True)
                    e2_rows += rows
                    e2_rows.append(metrics)
            yield _part(E1, E1_COLS, e1_rows)
            yield _part(E2, k2.E2_LONG_COLS, e2_rows)
            yield _part(DOC, DOC_COLS,
                        [(d[0], *d[3:]) for d in docs])

    return run


def extract(df: DataFrame, pdf_col: str | None = None) -> DataFrame:
    """(url, <pdf_col> binary) rows, or pages-table rows (url, html,
    text) when `pdf_col` is None → the tagged long table
    (``DOCPASS_SCHEMA``)."""
    cols = [F.col(pdf_col).alias("pdf")] if pdf_col else ["html", "text"]
    return rebalance_narrow(df.select("url", *cols)).mapInArrow(
        _kernel(pdf_col is not None), DOCPASS_SCHEMA)


def _rows(long_df: DataFrame, src: str, cols: list[str]) -> DataFrame:
    return long_df.filter(F.col("src") == src).select(*cols)


def e1_long(long_df: DataFrame) -> DataFrame:
    """Engine 1's long rows (``engine1.pipeline.split_long`` input)."""
    return _rows(long_df, E1, E1_COLS)


def e2_long(long_df: DataFrame) -> DataFrame:
    """Engine 2's long rows (``engine2.pipeline.values_table`` /
    ``metrics_table`` input)."""
    return _rows(long_df, E2, k2.E2_LONG_COLS)


def doc_rows(long_df: DataFrame) -> DataFrame:
    """One row per input document: (url, n_pages, n_words,
    decode_failures)."""
    return _rows(long_df, DOC, DOC_COLS)
