"""Seeded inputs and their expected outputs, built once per seed.

Every input is a pure function of (workload, seed, size), made from
datagen's public generators. The expected digests come from the
independent oracles (`oracle_ref` for the extraction series,
`golden_oracle` for curation) on a deterministic sample of documents,
because the oracles are pure Python and far slower than the jobs.

Builds run in a small process pool and land in a cache directory keyed
by workload, seed, size and DATAGEN_REV, so a repeated seed pays
nothing.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import random
import shutil
import time

from pdf_extractor_spark import datagen
from pdf_extractor_spark import golden_oracle as golden
from pdf_extractor_spark import oracle_ref as orc

from digest import digest

# bump when a change here changes what a cached input holds
INPUT_REV = 3
CACHE_KEEP = 16                 # newest cached inputs kept on disk

PERIOD = ((2019, 1), (2021, 12))    # the jobs' default --start/--end
SERIES = {"proventos": "3123-Base", "insalubridade": "8-Insalubridade"}
TRUNCATED_SHARE = 0.01
SAMPLE_EVERY = 3                # oracle sample: doc_id % SAMPLE_EVERY == 0


def _chunks(n: int, k: int) -> list[range]:
    return [range(n * i // k, n * (i + 1) // k) for i in range(k)]


def _files_for(n_rows: int, nproc: int, rows_per_file: int) -> int:
    """Part-file count the datagen Spark writers would produce."""
    return min(512, max(nproc, n_rows // rows_per_file or 1))


def _write_parquet(path: str, rows: list[dict], schema, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for i, part in enumerate(_chunks(len(rows), n_files)):
        tbl = pa.Table.from_pylist([rows[j] for j in part], schema=schema)
        pq.write_table(tbl, os.path.join(path, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------------------
# pdf_batch: ficha PDFs + planted truncated copies
# ---------------------------------------------------------------------------

def series_rows(html: bytes, text: str) -> dict[str, list[tuple]]:
    """Verify-surface chain for one document: e2_extract_doc →
    apply_vacation_adjustments → zero_fill → format_decimal. Empty when
    the document yields no values (the job emits no rows for it)."""
    g = orc.e2_extract_doc(html, text)
    if not any(g["values"].values()):
        return {}
    orc.apply_vacation_adjustments(g["values"])
    months = list(orc.iterate_months(*PERIOD))
    return {table: [(y, m, f"{m:02d}/{y:04d}", orc.format_decimal(v))
                    for y, m, v in orc.zero_fill(g["values"].get(code, {}),
                                                 months)]
            for table, code in SERIES.items()}


def _pdf_chunk(args: tuple[int, range]) -> tuple[list[dict], dict]:
    seed, ids = args
    rows, expected = [], {}
    for doc_id in ids:
        r = datagen.gen_row(seed, doc_id)
        if "/ficha/" not in r["url"]:
            continue            # the PDF corpus is fichas only
        rows.append({"url": r["url"],
                     "pdf": datagen.gen_e2_pdf_bytes(seed, doc_id)})
        if doc_id % SAMPLE_EVERY == 0:
            expected[r["url"]] = series_rows(r["html"], r["text"])
    return rows, expected


def _build_pdf_batch(out: str, seed: int, n_pdfs: int, pool) -> dict:
    import pyarrow as pa

    # fichas are 6 of every 13 doc kinds (0.46): scan enough ids that
    # n_pdfs of them turn up with a wide margin, then keep exactly the
    # first n_pdfs, so every seed gives the job the same number of docs
    n_ids = int(n_pdfs / 0.38) + 32
    rows, sample = [], {}
    for r, e in pool.map(_pdf_chunk, [(seed, c) for c in _chunks(n_ids, 16)]):
        rows += r
        sample.update(e)
    if len(rows) < n_pdfs:
        raise RuntimeError(f"seed {seed}: only {len(rows)} fichas in "
                           f"{n_ids} ids")
    rows = rows[:n_pdfs]
    kept = {r["url"] for r in rows}
    sample = {u: s for u, s in sample.items() if u in kept}
    # plant truncated copies: the parser must count them as decode
    # failures instead of failing the job
    rng = random.Random(seed)
    n_trunc = max(1, round(TRUNCATED_SHARE * len(rows)))
    truncated = []
    for src in rng.sample(rows, n_trunc):
        url = src["url"] + "-truncated"
        rows.append({"url": url, "pdf": src["pdf"][:len(src["pdf"]) // 2]})
        truncated.append(url)
    schema = pa.schema([("url", pa.string()), ("pdf", pa.binary())])
    _write_parquet(os.path.join(out, "data"), rows, schema,
                   _files_for(n_ids, os.cpu_count() or 1, 64))

    urls = sorted(r["url"] for r in rows)
    expected = {
        "docs": len(rows),
        "truncated": sorted(truncated),
        "sample_urls": sorted(sample),
        "manifest": digest((u,) for u in urls),
        "audit_parse_failed": digest((u, u in truncated) for u in urls),
    }
    for table in SERIES:
        expected[table] = digest(
            (u,) + row for u, s in sample.items() for row in s.get(table, ()))
    return expected


# ---------------------------------------------------------------------------
# curate_html: word-salad documents wrapped as HTML pages
# ---------------------------------------------------------------------------

def _build_curate_html(out: str, seed: int, n_docs: int, pool) -> dict:
    import pyarrow as pa

    docs = [datagen.doc_row(seed, i) for i in range(n_docs)]
    rows = [{"doc_id": d["doc_id"], "html": golden.wrap_html(d["doc_id"],
                                                             d["text"])}
            for d in docs]
    schema = pa.schema([("doc_id", pa.int64()), ("html", pa.string())])
    _write_parquet(os.path.join(out, "data"), rows, schema,
                   _files_for(n_docs, os.cpu_count() or 1, 256))

    # both goldens on the sample: MinHash-LSH pairs depend only on the
    # two documents involved, so pairs inside the sample are exactly the
    # golden pairs of the sample (no bucket reaches the 1000-doc cap)
    sample = [(d["doc_id"], d["text"]) for d in docs
              if d["doc_id"] % SAMPLE_EVERY == 0]
    main = pool.apply_async(_main_texts, (sample,))
    pairs = pool.apply_async(_pairs_digest, (sample,))
    return {
        "docs": n_docs,
        "sample_ids": [i for i, _ in sample],
        "main_text": main.get(),
        "pairs": pairs.get(),
    }


def _main_texts(sample: list[tuple[int, str]]) -> dict[str, str]:
    return {str(r["doc_id"]): r["main_text"]
            for r in golden.extract_main_content_golden(sample)}


def _pairs_digest(sample: list[tuple[int, str]]) -> str:
    return digest((p["a"], p["b"], p["jaccard"])
                  for p in golden.web_neardup_pairs_golden(sample))


BUILDERS = {"pdf_batch": _build_pdf_batch, "curate_html": _build_curate_html}


def ensure_input(cache_root: str, workload: str, seed: int,
                 size: int) -> tuple[str, dict, float]:
    """(input dir, expected, build seconds — 0.0 on a cache hit)."""
    key = f"{workload}-s{seed}-n{size}-d{datagen.DATAGEN_REV}-i{INPUT_REV}"
    path = os.path.join(cache_root, key)
    done = os.path.join(path, "expected.json")
    if os.path.exists(done):
        os.utime(path)
        with open(done) as f:
            return os.path.join(path, "data"), json.load(f), 0.0
    t0 = time.perf_counter()
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(min(4, os.cpu_count() or 1)) as pool:
        expected = BUILDERS[workload](tmp, seed, size, pool)
        pool.close()
        pool.join()
    # the spawn pool started multiprocessing's resource tracker: stop
    # and reap it too, so no helper process outlives the build
    from multiprocessing import resource_tracker
    resource_tracker._resource_tracker._stop()
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    _evict(cache_root)
    return os.path.join(path, "data"), expected, time.perf_counter() - t0


def _evict(cache_root: str) -> None:
    entries = sorted((os.path.getmtime(os.path.join(cache_root, e)), e)
                     for e in os.listdir(cache_root))
    for _, e in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache_root, e), ignore_errors=True)
