"""Crash consistency of the two jobs' commit protocol
(`TableIO.write_run` / `read_state`, state written last).

Each job runs in-process through its `main()`. A crash is injected by
making `ParquetSnapshotTableIO.write_run` raise when asked for one
table, so every table written before it is committed and nothing after
it is. Retrying under the same run_id must leave every output table
equal to a clean run's, compared as sorted rows without the columns
that legitimately differ between runs. One more in-process run checks
`jobs.py --minutes-mode` against the oracle_ref writers."""

from __future__ import annotations

import shutil
import sys

import pytest

import jobs
import jobs_curate
from pdf_extractor_spark import datagen, oracle_ref as orc
from pdf_extractor_spark.sinks.tableio import ParquetSnapshotTableIO

VOLATILE = {"run_id", "audit_ts", "ts", "partition_id"}
EXTRACT_TABLES = ["proventos", "insalubridade", "cartoes",
                  "horas_trabalhadas", "e1_target", "e1_attention",
                  "audit_e1", "audit_e2", "manifest"]
CURATE_TABLES = ["curated", "stage_counts", "audit", "state/manifest",
                 "state/qualified_hashes"]


class Crash(RuntimeError):
    pass


@pytest.fixture
def run_job(spark, monkeypatch):
    """run_job(module, *argv, crash_before=None): call module.main()
    with argv; with `crash_before`, the write of that table raises."""
    write_run = ParquetSnapshotTableIO.write_run

    def run(module, *argv, crash_before=None):
        def crashing(self, df, name, run_id, keep_other_runs):
            if name == crash_before:
                raise Crash(name)
            write_run(self, df, name, run_id, keep_other_runs)

        with monkeypatch.context() as m:
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
    return run


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
        # no near-dup stage: a MinHash increment takes ~25 s at 4 cores,
        # and the commit protocol is the same for every table
        run_job(jobs_curate, "--documents", documents, "--out", str(out),
                "--run-id", run_id, "--near-dup", "none", *flags,
                crash_before=crash_before)

    clean_out, crash_out = tmp_path / "clean", tmp_path / "crash"
    curate(clean_out, first, "c1")
    shutil.copytree(clean_out, crash_out)
    curate(clean_out, full, "c2", "--resume")
    clean = _tables(spark, clean_out, CURATE_TABLES)
    assert all(clean.values()), "every table holds rows"

    # crash after curated/ (and the audit tables), before state/ commits
    curate(crash_out, full, "c2", "--resume", crash_before="state/manifest")
    curate(crash_out, full, "c2", "--resume")
    assert _tables(spark, crash_out, CURATE_TABLES) == clean


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

    months = list(orc.iterate_months((2019, 1), (2020, 12)))
    fmt = orc.format_decimal
    want = {"cartoes": [], "horas_trabalhadas": []}
    n_converted = 0
    for i in range(n_docs):
        r = datagen.gen_row(42, i)
        if "ficha" not in r["url"]:
            continue
        g = orc.e2_extract_doc(r["html"], r["text"])["values"]
        if not any(g.values()):
            continue
        orc.apply_vacation_adjustments(g)
        h50, h100 = g.get("6-Horas", {}), g.get("14-Horas100", {})
        rows, inc = orc.cartoes_writer_rows(h50, h100, months,
                                            minutes_mode=True)
        want["cartoes"] += [(r["url"], y, m, f"{m:02d}/{y:04d}", fmt(a),
                             fmt(b), inc, ex) for y, m, a, b, ex in rows]
        want["horas_trabalhadas"] += [
            (r["url"], y, m, f"{m:02d}/{y:04d}", fmt(a), fmt(b), ex)
            for y, m, a, b, ex in orc.horas_writer_rows(
                g.get("1-Salario", {}), g.get("952-FaltaInjustifica", {}),
                months, minutes_mode=True)]
        n_converted += sum(orc.convert_minutes_value(v) != v
                           for v in [*h50.values(), *h100.values()])
    assert n_converted > 0, "corpus must exercise the conversion"
    assert any(row[-1] for row in want["cartoes"]), "and the append path"

    io = ParquetSnapshotTableIO(str(out))
    cols = {"cartoes": ["url", "year", "month", "periodo", "hora_extra_50",
                        "hora_extra_100", "include_extra_100", "is_extra"],
            "horas_trabalhadas": ["url", "year", "month", "periodo",
                                  "horas_trab", "faltas", "is_extra"]}
    for name, want_rows in want.items():
        got = [tuple(row) for row in
               io.read(spark, name).select(cols[name]).collect()]
        assert sorted(got) == sorted(want_rows), name
