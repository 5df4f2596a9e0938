"""jobs.py rejects bad arguments before Spark starts or any output
exists (argparse exit status 2)."""

from __future__ import annotations

import sys

import pytest

import jobs


@pytest.mark.parametrize("bad", [
    ["--start", "2019-13"], ["--start", "2019-00"], ["--end", "2021-1"],
    ["--end", "2021/12"], ["--start", "19-01"],
])
def test_bad_argument_exits_before_spark(tmp_path, monkeypatch, bad):
    def no_spark(*a, **k):
        raise AssertionError("Spark started before the argument check")

    out = tmp_path / "out"
    monkeypatch.setattr(jobs, "get_spark", no_spark)
    monkeypatch.setattr(sys, "argv", [
        "jobs.py", "--pages", str(tmp_path / "pages"), "--out", str(out),
        "--run-id", "r1", *bad])
    with pytest.raises(SystemExit) as exc:
        jobs.main()
    assert exc.value.code == 2
    assert not out.exists()
