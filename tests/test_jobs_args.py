"""jobs.py and jobs_curate.py reject bad arguments before Spark starts
or any output exists (argparse exit status 2)."""

from __future__ import annotations

import sys

import pytest

import jobs
import jobs_curate


def _assert_exits_before_spark(module, argv, out, monkeypatch):
    def no_spark(*a, **k):
        raise AssertionError("Spark started before the argument check")

    monkeypatch.setattr(module, "get_spark", no_spark)
    monkeypatch.setattr(sys, "argv", argv)
    with pytest.raises(SystemExit) as exc:
        module.main()
    assert exc.value.code == 2
    assert not out.exists()


@pytest.mark.parametrize("bad", [
    ["--start", "2019-13"], ["--start", "2019-00"], ["--end", "2021-1"],
    ["--end", "2021/12"], ["--start", "19-01"],
])
def test_bad_argument_exits_before_spark(tmp_path, monkeypatch, bad):
    out = tmp_path / "out"
    _assert_exits_before_spark(jobs, [
        "jobs.py", "--pages", str(tmp_path / "pages"), "--out", str(out),
        "--run-id", "r1", *bad], out, monkeypatch)


@pytest.mark.parametrize("bad", [
    ["--near-dup", "simhash"], ["--max-hamming", "3"],
    ["--html-col", "html", "--pdf-col", "pdf"],
    ["--langs", "pt,fr"], ["--langs", "pt,"],
])
def test_curate_bad_argument_exits_before_spark(tmp_path, monkeypatch, bad):
    out = tmp_path / "out"
    _assert_exits_before_spark(jobs_curate, [
        "jobs_curate.py", "--documents", str(tmp_path / "docs"),
        "--out", str(out), "--run-id", "c1", *bad], out, monkeypatch)


def test_curate_langs_strip_spaces():
    assert jobs_curate.parse_langs("pt, en") == ("pt", "en")
    assert jobs_curate.parse_langs("und") == ("und",)
