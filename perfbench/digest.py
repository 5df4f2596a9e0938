"""Order-independent table digests and a reader for the jobs' outputs.

A digest is the row count plus the sum, modulo 2**64, of a 64-bit hash
of each row's canonical text. The sum does not depend on row order or
on how rows are split across part files, and unlike XOR it does not
cancel duplicated rows.
"""

from __future__ import annotations

import hashlib
import os
from typing import Iterable

# columns that legitimately differ between two runs of the same job
VOLATILE = {"run_id", "audit_ts", "partition_id"}


def digest(rows: Iterable[tuple]) -> str:
    total, n = 0, 0
    for row in rows:
        h = hashlib.blake2b(repr(tuple(row)).encode(), digest_size=8)
        total = (total + int.from_bytes(h.digest(), "big")) % (1 << 64)
        n += 1
    return f"{n}:{total:016x}"


def _parquet_files(path: str) -> list[str]:
    out = []
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if not x.startswith((".", "_")))
        out += [os.path.join(d, f) for f in sorted(files)
                if f.endswith(".parquet") and not f.startswith((".", "_"))]
    return out


def read_rows(table_dir: str, cols: list[str] | None = None) -> list[tuple]:
    """Rows of one output table as tuples of `cols`; by default every
    column except the volatile ones, timestamps and Hive partition
    columns, in name order. Tables written through the snapshot sink
    (`<table>/snap-N` + `version-hint.text`) read their current snapshot
    only. A missing table reads as no rows."""
    import pyarrow.parquet as pq

    hint = os.path.join(table_dir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            table_dir = os.path.join(table_dir, f"snap-{int(f.read()):08d}")
    rows: list[tuple] = []
    for path in _parquet_files(table_dir):
        t = pq.read_table(path, partitioning=None)
        names = cols or sorted(
            c for c in t.column_names
            if c not in VOLATILE
            and "timestamp" not in str(t.schema.field(c).type))
        rows += zip(*(t.column(c).to_pylist() for c in names))
    return rows
