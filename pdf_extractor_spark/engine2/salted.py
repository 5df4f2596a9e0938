"""Salt-based skew mitigation for oversized documents (north rule).

A single 5000-page document serializes one task in the plain per-row
kernel. This module splits oversized documents into page-range chunk
rows before the heavy kernel, processes chunks in parallel, then
stitches the cross-page carry state (G2 centers + G5 pending blocks)
exactly — output is bit-identical to the unsalted kernel (pinned by
tests/test_salted.py against the oracle-verified path).

Why a cheap stitch is possible (the correctness argument):

* a pending block's influence horizon is MAX_BLOCK_CARRY = 3 pages past
  its creation page (it either finds values and stops pending, or
  expires — reference ficha_financeira_processor.py:508-522);
* carried-in column centers only matter until the first page that has
  BOTH its own `Comp.` and `Valor` header rows (`first_full_header`);
  blocks created after it are start-state independent.

So pass 1 runs every chunk in parallel from an EMPTY state; per chunk
only the pages before `first_full_header + 3` ("the head") can be
wrong. Pass 2 folds the tiny serialized states sequentially per
document and re-runs just the heads (or the whole chunk when it never
establishes its own headers), whose events REPLACE pass-1 head events.
At the head boundary the pass-1 and pass-2 states provably coincide
(prefix blocks are dead by then in both runs), so pass-1 tails are kept
as-is. The merged, totally-ordered event stream of each document then
goes through the plain kernel's own finisher (``kernel.finish_doc``:
A1 fold, A6 adjustment, value + metrics rows), so there is one fold.

Cost shape at scale: pass 1 = embarrassingly parallel mapInPandas over
chunk rows (the skew fix); pass 2 = one applyInPandas over only the
oversized urls, each touching only head pages; the finish = one
applyInPandas keyed by url over the (small) event rows.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..oracle_ref import e2_person_name
from ..payload import split_layout
from .kernel import (E2_LONG_COLS, E2_LONG_SCHEMA, MAX_BLOCK_CARRY,
                     PageRunState, decode_pages_fast, finish_doc, run_pages)

CHUNK_SCHEMA = ("url string, salt int, n_chunks int, page_offset int, "
                "n_pages int, page_h double, chunk_html binary, "
                "person string, decode_failed int, total_pages int")

EVENT_SCHEMA = ("url string, salt int, kind string, code string, "
                "year int, month int, value string, lpage int, "
                "gpage int, seq long, state string, ffh int")


def split_chunks(pages_df: DataFrame, max_pages: int = 16) -> DataFrame:
    """Split each document into ≤max_pages page-range chunk rows
    (`payload.split_layout`). A payload that does not parse becomes one
    empty chunk with `decode_failed = 1`, as the plain kernel counts it.

    max_pages must exceed MAX_BLOCK_CARRY so a carried-in block can
    never survive a whole chunk (the stitch-horizon containment the
    pass-2 proof needs).
    """
    assert max_pages > MAX_BLOCK_CARRY

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html, text in zip(pdf["url"], pdf["html"], pdf["text"]):
                failed = 0
                person = e2_person_name(text or "")
                try:
                    page_h, n, blobs = split_layout(html, max_pages)
                except Exception:
                    page_h, n, blobs = split_layout(None, max_pages)
                    failed = 1
                for k, (c_pages, blob) in enumerate(blobs):
                    rows.append((url, k, len(blobs), k * max_pages,
                                 c_pages, page_h, blob,
                                 person if k == 0 else None,
                                 failed if k == 0 else 0, n))
            yield pd.DataFrame(rows, columns=[
                "url", "salt", "n_chunks", "page_offset", "n_pages",
                "page_h", "chunk_html", "person", "decode_failed",
                "total_pages"])

    return pages_df.select("url", "html", "text").mapInPandas(
        kernel, schema=CHUNK_SCHEMA)


def _events_df_rows(url, salt, events, page_offset):
    return [(url, salt, k, c, y, m, v, gp - page_offset, gp, s, None, -1)
            for (k, c, y, m, v, gp, s) in events]


def pass1_events(chunks: DataFrame) -> DataFrame:
    """Parallel pass over every chunk from an empty carry state; also
    emits one kind='s' row per chunk with the serialized end state and
    the first_full_header index (pass-2 inputs)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "salt", "kind", "code", "year", "month", "value",
                "lpage", "gpage", "seq", "state", "ffh"]
        for pdf in batches:
            rows = []
            for url, salt, off, blob, page_h in zip(
                    pdf["url"], pdf["salt"], pdf["page_offset"],
                    pdf["chunk_html"], pdf["page_h"]):
                _h, pages = decode_pages_fast(blob)
                events, end_state, ffh = run_pages(
                    pages, float(page_h), PageRunState(), page_offset=int(off))
                rows.extend(_events_df_rows(url, int(salt), events, int(off)))
                rows.append((url, int(salt), "s", None, None, None, None,
                             None, None, None, end_state.to_json(),
                             -1 if ffh is None else int(ffh)))
            yield pd.DataFrame(rows, columns=cols)

    return chunks.select("url", "salt", "page_offset", "chunk_html",
                         "page_h").mapInPandas(kernel, schema=EVENT_SCHEMA)


def pass2_stitch(chunks: DataFrame, states: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Sequential per-document stitch over chunk boundaries.

    Returns (replacement events, replaced ranges). Only multi-chunk
    documents enter; each document's fold touches only head pages."""
    multi = chunks.filter(F.col("n_chunks") > 1).select(
        "url", "salt", "page_offset", "n_pages", "page_h", "chunk_html")
    joined = multi.join(
        states.select("url", "salt", "state", "ffh"), ["url", "salt"])

    out_schema = ("url string, salt int, kind string, code string, "
                  "year int, month int, value string, lpage int, "
                  "gpage int, seq long, reproc_end int")

    def stitch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("salt")
        rows = []
        state = PageRunState()
        for r in pdf.itertuples(index=False):
            url, salt, off = r.url, int(r.salt), int(r.page_offset)
            n_pages, page_h = int(r.n_pages), float(r.page_h)
            ffh = int(r.ffh)
            if salt == 0:
                # chunk 0's pass-1 run (empty start state) is already
                # exact; just adopt its end state
                state = PageRunState.from_json(r.state)
                continue
            full_replay = ffh < 0 or (ffh + MAX_BLOCK_CARRY) >= n_pages
            reproc_end = n_pages if full_replay else ffh + MAX_BLOCK_CARRY
            _h, pages = decode_pages_fast(r.chunk_html)
            events, end_state, _ = run_pages(
                pages[:reproc_end], page_h, state, page_offset=off)
            for (k, c, y, m, v, gp, s) in events:
                rows.append((url, salt, k, c, y, m, v, gp - off, gp, s,
                             reproc_end))
            # marker row so the merge knows which pass-1 pages to drop
            rows.append((url, salt, "r", None, None, None, None, None,
                         None, None, reproc_end))
            state = end_state if full_replay else PageRunState.from_json(r.state)
        return pd.DataFrame(rows, columns=[
            "url", "salt", "kind", "code", "year", "month", "value",
            "lpage", "gpage", "seq", "reproc_end"])

    stitched = joined.groupBy("url").applyInPandas(stitch, schema=out_schema)
    repl_events = stitched.filter(F.col("kind") != "r").drop("reproc_end")
    ranges = stitched.filter(F.col("kind") == "r").select(
        "url", "salt", "reproc_end")
    return repl_events, ranges


def assemble(chunks: DataFrame, p1: DataFrame, p2_events: DataFrame,
             ranges: DataFrame) -> DataFrame:
    """Merge event streams → E2_LONG_SCHEMA rows (value rows + one
    __metrics__ row per url), A6 applied.

    Pass-1 head events replaced by pass 2 are dropped relationally;
    the rest of each document's stream, plus one kind='d' row with its
    chunk-0 lineage, meets in one applyInPandas per url that orders by
    (gpage, seq) and calls `kernel.finish_doc`."""
    ev_cols = ["url", "salt", "kind", "code", "year", "month", "value",
               "lpage", "gpage", "seq"]
    ev1 = (p1.filter(F.col("kind") != "s").select(*ev_cols)
           .join(ranges, ["url", "salt"], "left")
           .filter(F.col("reproc_end").isNull()
                   | (F.col("lpage") >= F.col("reproc_end")))
           .drop("reproc_end"))
    docs = chunks.filter(F.col("salt") == 0).select(
        "url", F.lit("d").alias("kind"), "person",
        F.col("total_pages").alias("pages"),
        F.col("decode_failed").alias("decode_failures"))
    merged = (ev1.unionByName(p2_events.select(*ev_cols))
              .select("url", "kind", "code", "year", "month", "value",
                      "gpage", "seq")
              .unionByName(docs, allowMissingColumns=True))

    def finish(pdf: pd.DataFrame) -> pd.DataFrame:
        doc = pdf[pdf["kind"] == "d"].iloc[0]
        ev = pdf[pdf["kind"] != "d"].sort_values(["gpage", "seq"])
        # year/month arrive as float (nullable ints); only 'v' rows
        # carry them and fold_events reads nothing else from 'x' rows
        events = [(k, c, int(y) if k == "v" else None,
                   int(m) if k == "v" else None, v, None, None)
                  for k, c, y, m, v in zip(ev["kind"], ev["code"],
                                           ev["year"], ev["month"],
                                           ev["value"])]
        rows, metrics = finish_doc(
            doc["url"], events, int(doc["pages"]),
            int(doc["decode_failures"]), doc["person"],
            adjust_vacation=True)
        return pd.DataFrame(rows + [metrics], columns=E2_LONG_COLS)

    return merged.groupBy("url").applyInPandas(finish, schema=E2_LONG_SCHEMA)


def extract_ficha_salted(pages_df: DataFrame, max_pages: int = 16) -> DataFrame:
    """Drop-in replacement for `pipeline.extract_ficha(pages,
    adjust_vacation=True)` that splits oversized documents into
    parallel page-range chunks with an exact carry-state handoff.
    Output is identical (tests pin it)."""
    # person-name scan reads the first text page only (see
    # pipeline.extract_ficha) — ship one page of text per document
    df = pages_df.select(
        "url", "html",
        F.substring_index(F.col("text"), "\f", 1).alias("text"),
    ).filter(F.length("html") > 0)
    # chunk rows inherit the INPUT row's partition: a single oversized
    # document's chunks all land in one task and pass 1 runs them
    # serially — the straggler salting exists to kill (measured: one
    # 6000-page doc, pass 1 on unspread chunks 5.3 s vs 0.6 s spread).
    # One deterministic keyed exchange moves each chunk's bytes once
    # (guide §8: decide with small rows, move big rows once — here the
    # decision IS the (url, salt) key) and buys full-width pass 1.
    chunks = (split_chunks(df, max_pages)
              .repartition(F.col("url"), F.col("salt"))
              .persist())
    p1 = pass1_events(chunks).persist()
    states = p1.filter(F.col("kind") == "s")
    p2_events, ranges = pass2_stitch(chunks, states)
    return assemble(chunks, p1, p2_events, ranges)
