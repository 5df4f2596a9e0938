"""Pins the golden-oracle generator against the live Spark queries.

Two layers:
1. xxh64.py parity with Spark's xxhash64 (every tail-length class).
2. Every golden-backed query compared against the pure-Python golden
   at sf0.001 — the same generator code then produces the sf0.01
   goldens the driver gate reads, so a pass here certifies them.
"""

from __future__ import annotations

import datetime
import math
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from pdf_extractor_spark import golden_oracle as G
from pdf_extractor_spark.xxh64 import spark_xxhash64

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from tools.make_goldens import SCHEMAS, build_goldens  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
N_CORPUS = 60  # queries._corpus_docs_for(sf0.001)


def test_xxh64_matches_spark(spark):
    strs = ["", "a", "abc", "abcd", "abcde", "abcdefgh", "abcdefghi",
            "x" * 12, "y" * 31, "z" * 32, "w" * 33, "q" * 64, "m" * 100,
            "maçã água tônica", "word word word word word"]
    df = spark.createDataFrame([(s,) for s in strs], "s string") \
        .select("s", F.xxhash64("s").alias("h"))
    for r in df.collect():
        assert spark_xxhash64(r.s) == r.h, repr(r.s)

    longs = [0, 1, -1, 42, 2**62, -(2**62), 123456789, (1 << 31) - 1]
    df2 = spark.createDataFrame([(v,) for v in longs], "v long") \
        .select("v", F.xxhash64("v").alias("h"))
    for r in df2.collect():
        assert spark_xxhash64(r.v) == r.h, r.v

    df3 = spark.createDataFrame([(7, -3, "mh")], "a long, b long, c string") \
        .select(F.xxhash64("a", "b", "c").alias("h"))
    assert spark_xxhash64(7, -3, "mh") == df3.first().h


@pytest.fixture(scope="module")
def goldens():
    return build_goldens(SF_DIR, N_CORPUS)


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


@pytest.mark.parametrize("name", [
    "multimodal_features", "dedup_minhash_lsh", "dedup_simhash",
    "sim_lsh_topk", "dedup_ngram_jaccard", "sim_embedding_neardup",
    "sim_ivf_topk", "extract_main_content", "extract_e1_values",
    "extract_e1_person_names", "extract_e2_proventos",
    "extract_audit_metrics",
])
def test_golden_matches_spark_query(spark, goldens, name):
    if name == "multimodal_features":
        # merged into the branch-tagged `multimodal` driver row (r05);
        # the golden still pins the features branch verbatim
        sdf = (entrymod.queries()["multimodal"](spark, SF_DIR)
               .filter("src = 'features'").drop("src", "frame_ts_ms"))
    else:
        sdf = entrymod.queries()[name](spark, SF_DIR)
    scols = list(sdf.columns)
    srows = sorted((tuple(_canon(v) for v in r) for r in sdf.collect()),
                   key=repr)
    grows_dicts = goldens[name]
    assert grows_dicts, f"{name}: empty golden (vacuous)"
    gcols = list(grows_dicts[0].keys())
    assert sorted(scols) == sorted(gcols), (scols, gcols)
    grows = sorted((tuple(_canon(d[c]) for c in scols) for d in grows_dicts),
                   key=repr)
    assert len(srows) == len(grows), f"{name}: {len(srows)} vs {len(grows)}"
    diffs = [(a, b) for a, b in zip(srows, grows) if a != b]
    assert not diffs, f"{name}: {len(diffs)} diffs; first: {diffs[0]}"


def test_committed_goldens_exist_and_load():
    con = duckdb.connect()
    # the driver registers every testdata table as a view; the merged
    # `multimodal` oracle needs `documents` for its frames branch
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/documents.parquet')")
    for name in ["multimodal", "dedup_minhash_lsh", "dedup_simhash",
                 "sim_lsh_topk", "extract_e1_values",
                 "extract_e1_person_names", "extract_e2_proventos",
                 "extract_audit_metrics"]:
        n = con.execute(entrymod.oracle_sql()[name]).df().shape[0]
        assert n > 0, name


def test_committed_goldens_regenerate_identically():
    """Rebuilding every committed golden where the suite runs reproduces its
    rows exactly, so no golden depends on the CPU that generated it
    (SIMD width, core count, memory size)."""
    gdir = Path(__file__).resolve().parent.parent / "goldens" / "sf0_01"
    # the committed set: sf0.01 with queries._corpus_docs_for(sf0.01)
    rebuilt = build_goldens(str(Path(SF_DIR).with_name("sf0.01")), 200)
    assert {p.stem for p in gdir.glob("*.parquet")} == set(rebuilt)
    for name, rows in rebuilt.items():
        want = pq.read_table(gdir / f"{name}.parquet").to_pylist()
        got = pa.Table.from_pylist(rows, schema=SCHEMAS[name]).to_pylist()
        assert got == want, name
