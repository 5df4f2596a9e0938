from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark import datagen
from pdf_extractor_spark.engine2 import pipeline as e2
from pdf_extractor_spark.sinks import audit, merge, resume


def test_merge_if_empty_semantics(spark):
    target = spark.createDataFrame(
        [("p1", "A", 10.0), ("p1", "B", None), ("p2", "A", 0.0)],
        "period string, col string, value double",
    )
    updates = spark.createDataFrame(
        [("p1", "A", 99.0), ("p1", "B", 7.0), ("p2", "A", 5.0), ("p3", "C", 1.0)],
        "period string, col string, value double",
    )
    out = {(r.period, r.col): r.value
           for r in merge.merge_if_empty(target, updates, ["period", "col"]).collect()}
    assert out[("p1", "A")] == 10.0   # non-empty target wins
    assert out[("p1", "B")] == 7.0    # null filled
    assert out[("p2", "A")] == 5.0    # zero filled
    assert out[("p3", "C")] == 1.0    # inserted


def test_merge_if_empty_string_values(spark):
    """ANSI-safety: string value columns holding non-numeric cells
    (E1 time values like '05,08') must not crash the emptiness cast —
    try_cast yields NULL there, so the existing non-empty cell wins."""
    target = spark.createDataFrame(
        [("p1", "A", "05,08"), ("p1", "B", None),
         ("p2", "A", "0"), ("p2", "B", "7.5")],
        "period string, col string, value string",
    )
    updates = spark.createDataFrame(
        [("p1", "A", "99"), ("p1", "B", "08,30"),
         ("p2", "A", "3"), ("p2", "B", "11")],
        "period string, col string, value string",
    )
    out = {(r.period, r.col): r.value
           for r in merge.merge_if_empty(target, updates, ["period", "col"]).collect()}
    assert out[("p1", "A")] == "05,08"  # non-numeric target wins, no throw
    assert out[("p1", "B")] == "08,30"  # null filled
    assert out[("p2", "A")] == "3"      # numeric zero filled
    assert out[("p2", "B")] == "7.5"    # numeric non-zero wins


def test_parquet_snapshot_tableio_string_values(spark, tmp_path):
    """Same ANSI trap through the TableIO MERGE path: second run against
    a target holding '05,08' must be a clean no-op, not a
    NumberFormatException."""
    from pdf_extractor_spark.sinks.tableio import ParquetSnapshotTableIO

    io = ParquetSnapshotTableIO(str(tmp_path / "tio_str"))
    u = spark.createDataFrame(
        [("p1", "A", "05,08"), ("p1", "B", "0")],
        "period string, col string, value string")
    io.merge_fill_if_empty(spark, "t", u, ["period", "col"])
    u2 = spark.createDataFrame(
        [("p1", "A", "99"), ("p1", "B", "12,00")],
        "period string, col string, value string")
    io.merge_fill_if_empty(spark, "t", u2, ["period", "col"])
    got = {(r.period, r.col): r.value for r in io.read(spark, "t").collect()}
    assert got == {("p1", "A"): "05,08", ("p1", "B"): "12,00"}


def test_merge_idempotent(spark, tmp_path):
    """Second MERGE run changes nothing (reference fill-if-empty)."""
    target = spark.createDataFrame(
        [("p1", "A", None)], "period string, col string, value double")
    updates = spark.createDataFrame(
        [("p1", "A", 3.0)], "period string, col string, value double")
    once = merge.merge_if_empty(target, updates, ["period", "col"])
    p = str(tmp_path / "t1")
    once.write.parquet(p)
    again = merge.merge_if_empty(spark.read.parquet(p), updates,
                                 ["period", "col"])
    assert sorted(once.collect()) == sorted(again.collect())


def test_audit_partition_summary(spark):
    pdf = datagen.corpus_pandas(40)
    pages = spark.createDataFrame(pdf)
    met = e2.metrics_table(e2.extract_ficha(pages))
    a = audit.build_audit(met, run_id="r1")
    assert {"run_id", "partition_id", "audit_ts"} <= set(a.columns)
    summ = audit.partition_summary(a).collect()
    assert sum(r.docs for r in summ) == met.count()
    assert all(r.run_id == "r1" for r in summ)


def test_parquet_snapshot_tableio(spark, tmp_path):
    """K1 target via TableIO: snapshot dirs + version-hint pointer
    (no driver-local FS ops), fill-if-empty across versions, old
    snapshots retained."""
    from pdf_extractor_spark.sinks.tableio import ParquetSnapshotTableIO

    io = ParquetSnapshotTableIO(str(tmp_path / "tio"))
    assert io.read(spark, "t") is None

    u1 = spark.createDataFrame(
        [("p1", "A", None), ("p2", "A", 2.0)],
        "period string, col string, value double")
    io.merge_fill_if_empty(spark, "t", u1, ["period", "col"])
    got1 = {(r.period, r.col): r.value for r in io.read(spark, "t").collect()}
    assert got1 == {("p1", "A"): None, ("p2", "A"): 2.0}

    u2 = spark.createDataFrame(
        [("p1", "A", 7.0), ("p2", "A", 99.0), ("p3", "B", 1.0)],
        "period string, col string, value double")
    io.merge_fill_if_empty(spark, "t", u2, ["period", "col"])
    got2 = {(r.period, r.col): r.value for r in io.read(spark, "t").collect()}
    assert got2[("p1", "A")] == 7.0   # empty cell filled
    assert got2[("p2", "A")] == 2.0   # non-empty target wins
    assert got2[("p3", "B")] == 1.0   # inserted

    # re-running the same merge is a no-op (idempotence)
    io.merge_fill_if_empty(spark, "t", u2, ["period", "col"])
    got3 = {(r.period, r.col): r.value for r in io.read(spark, "t").collect()}
    assert got3 == got2

    # snapshots retained → time travel/resume marker
    assert io.snapshots(spark, "t") == [1, 2, 3]

    # append-style tables work without snapshots
    io.append(u1, "log")
    io.append(u2, "log")
    assert io.read(spark, "log").count() == 5


def test_resume_manifest_roundtrip(spark, tmp_path):
    """The resume filter jobs.py applies: anti-join against every other
    run's manifest partition."""
    from pdf_extractor_spark.sinks.tableio import ParquetSnapshotTableIO

    io = ParquetSnapshotTableIO(str(tmp_path / "out"))
    pages = spark.createDataFrame(datagen.corpus_pandas(30))

    def remaining(run_id):
        done = io.read_state(spark, "manifest", run_id)
        return pages if done is None else pages.join(done, "url", "left_anti")

    first = remaining("r1")
    assert first.count() == 30  # no manifest yet → everything

    half = pages.filter(F.xxhash64("url") % 2 == 0)
    io.write_run(resume.manifest_rows(half), "manifest", "r1", False)

    second = remaining("r2")
    assert second.count() == 30 - half.count()
    # processed set and remainder are disjoint and cover everything
    assert second.join(half, "url", "inner").count() == 0

    io.write_run(resume.manifest_rows(second), "manifest", "r2", True)
    assert remaining("r3").count() == 0


def test_unreadable_manifest_raises(spark, tmp_path):
    """A manifest that exists but cannot be read fails the resume read
    instead of reading as "first run" and returning every url."""
    from pdf_extractor_spark.sinks.tableio import ParquetSnapshotTableIO

    io = ParquetSnapshotTableIO(str(tmp_path / "out"))
    (tmp_path / "out" / "manifest").mkdir(parents=True)
    (tmp_path / "out" / "manifest" / "part-0.parquet").write_bytes(
        b"not a parquet file")
    pages = spark.createDataFrame(datagen.corpus_pandas(30))
    with pytest.raises(Exception, match="(?i)parquet"):
        done = io.read_state(spark, "manifest", "r2")
        pages.join(done, "url", "left_anti").count()


def test_tableio_recovers_from_missing_hint(spark, tmp_path):
    """A reader that lands in the delete-then-rename gap (or a lost
    version-hint.text) must recover via max(snapshots()), never the
    plain-parquet path over the table root — that path would sweep
    snap-* dirs and the .tmp hint."""
    import os

    from pdf_extractor_spark.sinks.tableio import ParquetSnapshotTableIO

    root = tmp_path / "tio_gap"
    io = ParquetSnapshotTableIO(str(root))
    u1 = spark.createDataFrame(
        [("p1", "A", None), ("p2", "A", 2.0)],
        "period string, col string, value double")
    u2 = spark.createDataFrame(
        [("p1", "A", 7.0)], "period string, col string, value double")
    io.merge_fill_if_empty(spark, "t", u1, ["period", "col"])
    io.merge_fill_if_empty(spark, "t", u2, ["period", "col"])

    os.remove(root / "t" / "version-hint.text")  # simulate the gap

    got = {(r.period, r.col): r.value for r in io.read(spark, "t").collect()}
    assert got == {("p1", "A"): 7.0, ("p2", "A"): 2.0}  # latest snapshot

    # a merge during the gap continues version numbering from the
    # latest snapshot instead of rebuilding from an empty target
    u3 = spark.createDataFrame(
        [("p3", "B", 1.0)], "period string, col string, value double")
    io.merge_fill_if_empty(spark, "t", u3, ["period", "col"])
    assert io.snapshots(spark, "t") == [1, 2, 3]
    got2 = {(r.period, r.col): r.value for r in io.read(spark, "t").collect()}
    assert got2 == {("p1", "A"): 7.0, ("p2", "A"): 2.0, ("p3", "B"): 1.0}
