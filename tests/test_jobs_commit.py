"""Crash consistency of the two jobs' commit protocol
(`TableIO.write_run` / `read_state`, state written last).

Each job runs in-process through its `main()`. A crash is injected by
making `ParquetSnapshotTableIO.write_run` raise when asked for one
table, so every table written before it is committed and nothing after
it is. Retrying under the same run_id must leave every output table
equal to a clean run's, compared as sorted rows without the columns
that legitimately differ between runs. More in-process runs check
`jobs.py --minutes-mode` and `jobs.py --pdf-col` against the oracle_ref
writers, that `audit_parse` accounts for every input document, and
that a recrawled url's answer is its earliest capture whatever the row
order, the core count or the run that sees the later capture."""

from __future__ import annotations

import functools
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

import jobs
import jobs_curate
from pdf_extractor_spark import datagen, oracle_ref as orc
from pdf_extractor_spark.sinks.tableio import ParquetSnapshotTableIO
from tests.test_pdf_adversarial import hostile_mediabox_pdf

VOLATILE = {"run_id", "audit_ts", "ts", "partition_id"}
EXTRACT_TABLES = ["proventos", "insalubridade", "cartoes",
                  "horas_trabalhadas", "e1_target", "e1_attention",
                  "audit_e1", "audit_e2", "audit_parse", "manifest"]
# a fichas-only corpus has no Engine-1 values or attention rows (and a
# zero-row run-keyed write leaves no file to read)
PDF_TABLES = [t for t in EXTRACT_TABLES if not t.startswith("e1_")]
SERIES_COLS = {
    "proventos": ["url", "year", "month", "mes_ano", "valor"],
    "insalubridade": ["url", "year", "month", "mes_ano", "valor"],
    "cartoes": ["url", "year", "month", "periodo", "hora_extra_50",
                "hora_extra_100", "include_extra_100", "is_extra"],
    "horas_trabalhadas": ["url", "year", "month", "periodo", "horas_trab",
                          "faltas", "is_extra"],
}
CURATE_TABLES = ["curated", "near_dup_pairs", "stage_counts", "audit",
                 "state/manifest", "state/qualified_hashes", "state/bands"]


class Crash(RuntimeError):
    pass


def _run(spark, module, *argv, crash_before=None):
    """Call module.main() with argv; with `crash_before`, the write of
    that table raises."""
    write_run = ParquetSnapshotTableIO.write_run

    def crashing(self, df, name, run_id, keep_other_runs):
        if name == crash_before:
            raise Crash(name)
        write_run(self, df, name, run_id, keep_other_runs)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(module, "get_spark", lambda *a, **k: spark)
        m.setattr(sys, "argv", [module.__name__ + ".py", *argv])
        m.setattr(ParquetSnapshotTableIO, "write_run", crashing)
        try:
            if crash_before is None:
                module.main()
            else:
                with pytest.raises(Crash):
                    module.main()
        finally:
            spark.catalog.clearCache()


@pytest.fixture
def run_job(spark):
    """run_job(module, *argv, crash_before=None): see `_run`."""
    return functools.partial(_run, spark)


def _tables(spark, out, names):
    io = ParquetSnapshotTableIO(str(out))
    got = {}
    for name in names:
        df = io.read(spark, name)
        df = df.drop(*(c for c in df.columns if c in VOLATILE))
        cols = sorted(df.columns)
        got[name] = sorted((tuple(r) for r in df.select(cols).collect()),
                           key=repr)
    return got


def test_extract_job_retries_equal_clean_run(spark, run_job, tmp_path,
                                             capsys):
    pages = spark.createDataFrame(datagen.corpus_pandas(30),
                                  datagen.PAGES_SCHEMA)
    full, first = str(tmp_path / "pages"), str(tmp_path / "pages_first")
    pages.write.parquet(full)
    pages.limit(20).write.parquet(first)

    def extract(out, run_id, *flags, pages_dir=full, crash_before=None):
        run_job(jobs, "--pages", pages_dir, "--out", str(out),
                "--run-id", run_id, *flags, crash_before=crash_before)

    clean_out = tmp_path / "clean"
    extract(clean_out, "r1")
    clean = _tables(spark, clean_out, EXTRACT_TABLES)
    assert all(clean.values()), "every table holds rows"

    # a batch rerun into the same --out replaces the run, it does not
    # append a second copy
    extract(clean_out, "r1")
    assert _tables(spark, clean_out, EXTRACT_TABLES) == clean

    # a later --resume finds every url in the manifest
    capsys.readouterr()
    extract(clean_out, "r2", "--resume")
    assert "nothing to process" in capsys.readouterr().out
    assert _tables(spark, clean_out, EXTRACT_TABLES) == clean

    # (a) crash after the first run-keyed table, batch retry
    out_a = tmp_path / "a"
    extract(out_a, "r1", crash_before="proventos")
    extract(out_a, "r1")
    assert _tables(spark, out_a, EXTRACT_TABLES) == clean

    # (b) a --resume increment crashes just before the manifest and is
    # retried with --resume: the manifest does not record the crashed
    # run, so the retry redoes its urls and replaces the partitions the
    # crashed attempt wrote; run + increment equal the one clean run
    out_b = tmp_path / "b"
    extract(out_b, "r1", pages_dir=first)
    extract(out_b, "r2", "--resume", crash_before="manifest")
    extract(out_b, "r2", "--resume")
    assert _tables(spark, out_b, EXTRACT_TABLES) == clean


def test_curate_increment_retry_equals_clean_increment(spark, run_job,
                                                       tmp_path):
    docs = datagen.documents_df(spark, 400, partitions=4)
    first, full = str(tmp_path / "docs_first"), str(tmp_path / "docs_full")
    docs.filter("doc_id < 250").write.parquet(first)
    docs.write.parquet(full)

    def curate(out, documents, run_id, *flags, crash_before=None):
        run_job(jobs_curate, "--documents", documents, "--out", str(out),
                "--run-id", run_id, *flags, crash_before=crash_before)

    clean_out, crash_out = tmp_path / "clean", tmp_path / "crash"
    curate(clean_out, first, "c1")
    shutil.copytree(clean_out, crash_out)
    curate(clean_out, full, "c2", "--resume")
    clean = _tables(spark, clean_out, CURATE_TABLES)
    assert all(clean.values()), "every table holds rows"

    # the first run's pairs plus the increment's are a batch run's pairs
    batch_out = tmp_path / "batch"
    curate(batch_out, full, "b1")
    pairs = ["near_dup_pairs"]
    assert _tables(spark, batch_out, pairs) == _tables(spark, clean_out, pairs)

    # crash after curated/ (and the audit tables), before state/ commits
    curate(crash_out, full, "c2", "--resume", crash_before="state/manifest")
    curate(crash_out, full, "c2", "--resume")
    assert _tables(spark, crash_out, CURATE_TABLES) == clean


def test_curate_resume_rejects_ids_below_the_manifest(spark, run_job,
                                                     tmp_path):
    """--resume assumes crawl-ordered ids; new ids at or below the
    manifest's largest id exit non-zero before anything is written."""
    docs = datagen.documents_df(spark, 300, partitions=2)
    late, full = str(tmp_path / "docs_late"), str(tmp_path / "docs_full")
    docs.filter("doc_id >= 200").write.parquet(late)
    docs.write.parquet(full)
    out = tmp_path / "out"

    def curate(documents, run_id, *flags):
        run_job(jobs_curate, "--documents", documents, "--out", str(out),
                "--run-id", run_id, "--near-dup", "none", *flags)

    curate(late, "c1")
    with pytest.raises(SystemExit) as exc:
        curate(full, "c2", "--resume")
    assert exc.value.code not in (0, None)
    assert list(out.glob("**/run_id=c1"))
    assert not list(out.glob("**/run_id=c2"))


@pytest.mark.parametrize("first,then", [("none", "minhash"),
                                        ("minhash", "none")])
def test_curate_resume_rejects_a_near_dup_mode_switch(spark, run_job,
                                                      tmp_path, first,
                                                      then):
    """A --resume run whose --near-dup differs from a prior run of the
    chain (a run_id in state/manifest) would pair the increment
    against missing or stale band state; it exits non-zero before
    anything is written."""
    docs = datagen.documents_df(spark, 300, partitions=2)
    early, full = str(tmp_path / "docs_early"), str(tmp_path / "docs_full")
    docs.filter("doc_id < 200").write.parquet(early)
    docs.write.parquet(full)
    out = tmp_path / "out"

    def curate(documents, run_id, mode, *flags):
        run_job(jobs_curate, "--documents", documents, "--out", str(out),
                "--run-id", run_id, "--near-dup", mode, *flags)

    curate(early, "c1", first)
    with pytest.raises(SystemExit) as exc:
        curate(full, "c2", then, "--resume")
    assert exc.value.code not in (0, None)
    assert list(out.glob("**/run_id=c1"))
    assert not list(out.glob("**/run_id=c2"))


def _writer_oracle(n_docs, start, end, minutes_mode=False):
    """The four series tables' rows (`SERIES_COLS` order) for the ficha
    documents among datagen ids [0, n_docs): oracle_ref values with A6,
    zero-filled range months, the K3/K4 out-of-range appends and the
    A8 flag, through `format_decimal`."""
    months = list(orc.iterate_months(start, end))
    fmt = orc.format_decimal
    want = {name: [] for name in SERIES_COLS}
    for i in range(n_docs):
        r = datagen.gen_row(42, i)
        if "ficha" not in r["url"]:
            continue
        g = orc.e2_extract_doc(r["html"], r["text"])["values"]
        if not any(g.values()):
            continue            # no value rows: the job emits no series
        orc.apply_vacation_adjustments(g)
        url = r["url"]
        for name in ("proventos", "insalubridade"):
            want[name] += [
                (url, y, m, f"{m:02d}/{y:04d}", fmt(v)) for y, m, v in
                orc.zero_fill(g.get(jobs.SERIES[name], {}), months)]
        rows, inc = orc.cartoes_writer_rows(
            g.get("6-Horas", {}), g.get("14-Horas100", {}), months,
            minutes_mode=minutes_mode)
        want["cartoes"] += [(url, y, m, f"{m:02d}/{y:04d}", fmt(a),
                             fmt(b), inc, ex) for y, m, a, b, ex in rows]
        want["horas_trabalhadas"] += [
            (url, y, m, f"{m:02d}/{y:04d}", fmt(a), fmt(b), ex)
            for y, m, a, b, ex in orc.horas_writer_rows(
                g.get("1-Salario", {}), g.get("952-FaltaInjustifica", {}),
                months, minutes_mode=minutes_mode)]
    return want


def _series_rows(spark, out, names=SERIES_COLS):
    io = ParquetSnapshotTableIO(str(out))
    return {name: sorted(tuple(row) for row in
                         io.read(spark, name).select(SERIES_COLS[name])
                         .collect())
            for name in names}


def test_extract_job_minutes_mode_matches_writer_oracle(spark, run_job,
                                                        tmp_path):
    """cartoes and horas_trabalhadas of a --minutes-mode run equal the
    oracle_ref writer rows with minutes conversion, appended
    out-of-range rows and the A8 flag included."""
    n_docs = 30
    pages = str(tmp_path / "pages")
    spark.createDataFrame(datagen.corpus_pandas(n_docs),
                          datagen.PAGES_SCHEMA).write.parquet(pages)
    out = tmp_path / "out"
    run_job(jobs, "--pages", pages, "--out", str(out), "--run-id", "m1",
            "--start", "2019-01", "--end", "2020-12", "--minutes-mode")

    period = (2019, 1), (2020, 12)
    want = _writer_oracle(n_docs, *period, minutes_mode=True)
    plain = _writer_oracle(n_docs, *period)
    names = ["cartoes", "horas_trabalhadas"]
    assert want["cartoes"] != plain["cartoes"], \
        "corpus must exercise the conversion"
    assert any(row[-1] for row in want["cartoes"]), "and the append path"
    assert _series_rows(spark, out, names) == {
        name: sorted(want[name]) for name in names}


_HOSTILE_MEDIABOX = "synth://hostile/mediabox-in-truncated-tail"


@pytest.fixture(scope="module")
def pdf_job(spark, tmp_path_factory):
    """A clean `jobs.py --pdf-col pdf` run over the ficha PDFs of
    datagen ids [0, 30), a one-page PDF whose /MediaBox object the
    truncation cut off, a truncated copy of a ficha, and an empty and a
    null `pdf` value → (input dir, out dir, input urls, broken urls)."""
    root = tmp_path_factory.mktemp("pdf_job")
    rows = [(r["url"], datagen.gen_e2_pdf_bytes(42, i))
            for i, r in ((i, datagen.gen_row(42, i)) for i in range(30))
            if "ficha" in r["url"]]
    whole = rows[0][1]
    rows.append((_HOSTILE_MEDIABOX,
                 hostile_mediabox_pdf("truncated_tail")))
    broken = [("synth://bad/truncated", whole[:len(whole) // 2]),
              ("synth://bad/empty", b""), ("synth://bad/null", None)]
    pdfs = str(root / "pdfs")
    spark.createDataFrame(rows + broken, "url string, pdf binary") \
        .write.parquet(pdfs)
    out = root / "clean"
    _run(spark, jobs, "--pages", pdfs, "--pdf-col", "pdf", "--out", str(out),
         "--run-id", "p1")
    return (pdfs, out, sorted(u for u, _ in rows + broken),
            [u for u, _ in broken])


def test_extract_job_from_pdf_bytes(spark, pdf_job):
    """`--pdf-col`: the series tables equal the oracle for the ficha
    urls, audit_parse holds one row per input document with the
    truncated one counted as failed, the one whose /MediaBox object was
    cut off parsed, and the manifest holds exactly the input urls."""
    _pdfs, out, urls, broken = pdf_job
    assert _series_rows(spark, out) == {
        name: sorted(rows) for name, rows in
        _writer_oracle(30, (2019, 1), (2021, 12)).items()}

    io = ParquetSnapshotTableIO(str(out))
    parse = {r.url: r for r in io.read(spark, "audit_parse").collect()}
    assert sorted(parse) == urls
    failed = {u for u, r in parse.items() if r.decode_failures > 0}
    assert failed == {"synth://bad/truncated"}
    hostile = parse[_HOSTILE_MEDIABOX]
    assert (hostile.n_pages, hostile.decode_failures) == (1, 0)
    assert all(parse[u].n_pages == 0 for u in broken)
    assert all(r.n_pages > 0 and r.n_words > 0 for u, r in parse.items()
               if u not in broken)
    manifest = [r.url for r in io.read(spark, "manifest").collect()]
    assert sorted(manifest) == urls


def test_extract_job_from_pdf_bytes_retry_equals_clean_run(spark, run_job,
                                                           pdf_job):
    pdfs, clean_out, _urls, _broken = pdf_job
    clean = _tables(spark, clean_out, PDF_TABLES)
    assert all(clean.values()), "every table holds rows"
    argv = ["--pages", pdfs, "--pdf-col", "pdf", "--run-id", "p1",
            "--out", str(clean_out.parent / "crash")]
    run_job(jobs, *argv, crash_before="audit_parse")
    run_job(jobs, *argv)
    assert _tables(spark, clean_out.parent / "crash", PDF_TABLES) == clean



def test_extract_job_audits_every_pages_table_document(spark, run_job,
                                                       tmp_path):
    """A pages-mode run writes one `audit_parse` row per input
    document, a noise document and one with empty `text` and `html`
    included, so every manifest url has an audit row; the front door's
    counters are null there."""
    corpus = datagen.corpus_pandas(30)
    assert corpus["url"].str.contains("noise").any()
    blank = corpus.iloc[:1].assign(url="synth://bad/blank", html=b"", text="")
    corpus = pd.concat([corpus, blank], ignore_index=True)
    pages = str(tmp_path / "pages")
    spark.createDataFrame(corpus, datagen.PAGES_SCHEMA).write.parquet(pages)
    out = tmp_path / "out"
    run_job(jobs, "--pages", pages, "--out", str(out), "--run-id", "a1")

    io = ParquetSnapshotTableIO(str(out))
    parse = io.read(spark, "audit_parse").collect()
    manifest = [r.url for r in io.read(spark, "manifest").collect()]
    assert sorted(r.url for r in parse) == sorted(manifest) \
        == sorted(corpus["url"])
    assert {(r.n_pages, r.n_words, r.decode_failures) for r in parse} == {
        (None, None, None)}


# runs jobs.main() once per (pages, out) argument pair in a fresh
# local[1] process (one SparkContext per process)
_LOCAL1_RUNS = """
import sys
import jobs
for pages, out in zip(sys.argv[1::2], sys.argv[2::2]):
    sys.argv = ["jobs.py", "--pages", pages, "--out", out, "--run-id", "r1"]
    jobs.main()
"""


@pytest.fixture(scope="module")
def recrawl(spark, tmp_path_factory):
    """A 40-doc pages table plus a later second capture (`warc_ts` + 30
    days, another document's content) of one ficha and one folha url,
    written as one file in two row orders → (root, [dir per order],
    {kind: recrawled url}, the 40 first captures as pandas)."""
    root = tmp_path_factory.mktemp("recrawl")
    corpus = datagen.corpus_pandas(40)
    later, urls = [], {}
    for kind in ("ficha", "folha"):
        first = corpus[corpus["url"].str.contains(kind)].iloc[0]
        other = next(r for r in map(functools.partial(datagen.gen_row, 42),
                                    range(40, 400)) if kind in r["url"])
        later.append({**other, "url": first["url"],
                      "warc_ts": first["warc_ts"] + pd.Timedelta(days=30)})
        urls[kind] = first["url"]
    rows = pd.concat([corpus, pd.DataFrame(later)], ignore_index=True)
    dirs = []
    for order, df in (("crawl", rows), ("reversed", rows[::-1])):
        dirs.append(str(root / order))
        spark.createDataFrame(df.reset_index(drop=True),
                              datagen.PAGES_SCHEMA) \
            .coalesce(1).write.parquet(dirs[-1])
    return root, dirs, urls, corpus


def test_extract_job_recrawl_independent_of_row_order_and_cores(
        spark, run_job, recrawl):
    """A recrawled url's answer is its earliest capture's, whatever the
    input row order and core count: two file orders × local[4] (this
    session) and local[1] (a fresh process) give equal tables, and the
    two urls' series and `e1_target` cells equal oracle_ref on the
    first capture's document."""
    root, dirs, urls, corpus = recrawl
    outs = []
    for i, pages in enumerate(dirs):
        outs.append(root / f"local4_{i}")
        run_job(jobs, "--pages", pages, "--out", str(outs[-1]),
                "--run-id", "r1")
    local1 = [root / f"local1_{i}" for i in range(len(dirs))]
    repo = Path(jobs.__file__).resolve().parent
    subprocess.run(
        [sys.executable, "-c", _LOCAL1_RUNS,
         *(str(p) for pair in zip(dirs, local1) for p in pair)],
        cwd=repo, check=True, capture_output=True,
        env={**os.environ, "SPARK_GRAFT_CPUS": "1",
             "SPARK_DRIVER_MEMORY": "1g", "PYTHONPATH": str(repo)})
    want = _tables(spark, outs[0], EXTRACT_TABLES)
    for out in outs[1:] + local1:
        assert _tables(spark, out, EXTRACT_TABLES) == want, out

    # the series equal the oracle over the 40 first captures, and the
    # audit has one row per capture
    assert _series_rows(spark, outs[0]) == {
        name: sorted(rows) for name, rows in
        _writer_oracle(40, (2019, 1), (2021, 12)).items()}
    assert [r[-1] for r in want["audit_parse"]].count(urls["ficha"]) == 2

    text = corpus.set_index("url").loc[urls["folha"], "text"]
    oracle = orc.e1_extract_doc(text)
    cells = {(ft, y, m, col): v
             for ft in ("FOLHA NORMAL", "13 SALARIO")
             for (y, m), res in oracle[ft].items()
             for col, v in res["data"].items()}
    io = ParquetSnapshotTableIO(str(outs[0]))
    got = {(r.folha_type, r.year, r.month, r.excel_col): r.value
           for r in io.read(spark, "e1_target")
           .filter(F.col("url") == urls["folha"]).collect()}
    assert cells and got.keys() == cells.keys()
    assert all(got[k] == v if isinstance(v, str) else float(got[k]) == v
               for k, v in cells.items())


def test_extract_job_resume_recrawl_equals_batch(spark, run_job, recrawl,
                                                 capsys):
    """The second captures arrive in run 2 (`--resume`): the manifest
    anti-join skips them, so every table equals a batch run over both
    captures, except that the resumed run never audits the skipped
    captures."""
    root, (both, _), _urls, corpus = recrawl
    first = str(root / "first")
    spark.createDataFrame(corpus, datagen.PAGES_SCHEMA).write.parquet(first)
    batch, inc = root / "resume_batch", root / "resume_inc"
    run_job(jobs, "--pages", both, "--out", str(batch), "--run-id", "b1")
    run_job(jobs, "--pages", first, "--out", str(inc), "--run-id", "r1")
    capsys.readouterr()
    run_job(jobs, "--pages", both, "--out", str(inc), "--run-id", "r2",
            "--resume")
    assert "nothing to process" in capsys.readouterr().out

    want = _tables(spark, batch, EXTRACT_TABLES)
    got = _tables(spark, inc, EXTRACT_TABLES)
    audit_want, audit_got = want.pop("audit_parse"), got.pop("audit_parse")
    assert got == want
    assert len(audit_want) == len(audit_got) + 2
    assert sorted(set(audit_want), key=repr) == audit_got
