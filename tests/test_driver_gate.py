"""Local replica of the driver's correctness gate: run every
queries()[name] in Spark and the matching oracle_sql()[name] in DuckDB
on the same parquet, then compare row count + column names + exact
values (column-name-sorted, row-sorted) — strictly stronger than the
driver's value hash."""

from __future__ import annotations

import datetime
import hashlib
import json
import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.10g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    return v


def _rows_canonical(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


ORACLE_NAMES = sorted(entrymod.oracle_sql().keys())

# sha256 of every oracle's SQL text: a change that moves a query's
# Spark side and its oracle together would still pass the value
# compare below, so the oracle text itself is pinned. The checkout-
# dependent golden directory is replaced by a placeholder first.
ORACLE_SQL_SHA256 = (
    "762e15fb765fc5614d0a9ba06f27da8dafb93b54e1b7a2cdb238dc2d40721747")


def test_oracle_sql_text_is_pinned():
    from pdf_extractor_spark.queries import GOLDEN_DIR

    text = json.dumps(entrymod.oracle_sql(), sort_keys=True)
    text = text.replace(GOLDEN_DIR, "<GOLDEN_DIR>")
    assert hashlib.sha256(text.encode()).hexdigest() == ORACLE_SQL_SHA256


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_duckdb_oracle(spark, ddb, name):
    qfn = entrymod.queries()[name]
    sdf = qfn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)

    cur = ddb.execute(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in cur.description]
    drows = [tuple(r) for r in cur.fetchall()]

    sc, sr = _rows_canonical(scols, srows)
    dc, dr = _rows_canonical(dcols, drows)
    assert sc == dc, f"{name}: column mismatch {sc} vs {dc}"
    assert len(sr) == len(dr), f"{name}: rowcount {len(sr)} vs {len(dr)}"
    diffs = [(a, b) for a, b in zip(sr, dr) if a != b]
    assert not diffs, f"{name}: {len(diffs)} differing rows; first: {diffs[0]}"


ROWS_ONLY = sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = entrymod.queries()[name](spark, "/root/testdata/sf0.001")
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
