"""The N-vs-4N harness's pairing and summary, driven by a fake leg runner
(no Spark, no measured process)."""

from __future__ import annotations

import json

import pytest

from tools import scaling


@pytest.fixture
def four_cores(monkeypatch):
    monkeypatch.setattr(scaling.os, "sched_getaffinity",
                        lambda pid: {0, 1, 2, 3})


def test_pairs_alternate_and_summaries_match(monkeypatch, capsys,
                                             four_cores):
    calls = []
    docs_per_s = {("pdf_batch", 1): iter([8.0, 10.0, 9.0, 7.0]),
                  ("pdf_batch", 4): iter([12.0, 16.0, 20.0, 14.0])}

    def leg(workload, cores):
        calls.append(cores)
        return next(docs_per_s[workload, cores])

    monkeypatch.setattr(scaling, "run_leg", leg)
    assert scaling.main(["pdf_batch", "--pairs", "4"]) == 0
    assert calls == [1, 4, 4, 1, 1, 4, 4, 1]

    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 1
    got = json.loads(out[0])["pdf_batch"]
    assert got["legs"] == {
        "local[1]": {"median": 8.5, "q1": 7.75, "q3": 9.25, "n": 4},
        "local[4]": {"median": 15.0, "q1": 13.5, "q3": 17.0, "n": 4}}
    assert got["efficiency"] == round(15.0 / 8.5 / 4, 3)


def test_failed_leg_exits_nonzero_without_efficiency(monkeypatch, capsys,
                                                      four_cores):
    def leg(workload, cores):
        if cores == 4:
            raise scaling.LegFailed("proventos: digest differs")
        return 10.0

    monkeypatch.setattr(scaling, "run_leg", leg)
    assert scaling.main(["curate_html", "--pairs", "2"]) != 0
    captured = capsys.readouterr()
    assert "efficiency" not in captured.out
    assert "digest differs" in captured.err
