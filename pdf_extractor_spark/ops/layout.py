"""Input-layout guards (guide §2.5 "input skew", §6).

The driver's testdata tables are single-file parquet with ONE row
group (50k docs in one 5.9 MB group at sf1.0). Parquet is splittable
only at row-group boundaries, so no matter how many scan splits Spark
plans, exactly one task materializes every row — and every expensive
stage fused onto that scan (shingle explode, PDF render/parse, HTML
flatten, regex gates) runs single-threaded while 31 cores idle. That
is the guide's "one huge unsplittable file" case: repartition
immediately after the read.

`rebalance_narrow` is size-gated so it stays scale-adaptive rather
than local-tuned: it fires only when the optimizer's size estimate for
the input is below cores × 32 MB — i.e. when the whole table is
smaller than one healthy scan split per core, so the round-robin
shuffle it introduces is bounded by that same budget (a few MB here).
At 100 TB the estimate is far above the gate, no exchange is added,
and the plans keep their shuffle-free scan→kernel shape (the plan
tests pin both regimes, the wide one by zeroing `_BYTES_PER_CORE`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# one healthy scan split per core; inputs smaller than this per core
# cannot be relied on to feed every core from file layout alone
_BYTES_PER_CORE = 32 << 20

# unary logical nodes that keep their child's partition count
_NARROW = ("Project", "Filter", "SubqueryAlias", "MapInPandas", "MapInArrow")


def _estimated_bytes(df: DataFrame) -> int | None:
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(stats.sizeInBytes()))
    except Exception:  # stats unavailable → treat as huge (no rebalance)
        return None


def _repartitioned(df: DataFrame) -> bool:
    """True when the analyzed plan reaches a `Repartition` or
    `RepartitionByExpression` through narrow unary nodes only (a
    rebalance below a projection, filter or map kernel still spreads
    the rows that reach `df`); any other node stops the walk."""
    try:
        node = df._jdf.queryExecution().analyzed()
        while True:
            name = node.getClass().getSimpleName()
            if name in ("Repartition", "RepartitionByExpression"):
                return True
            if name not in _NARROW:
                return False
            node = node.child()
    except Exception:
        return False


def rebalance_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition of a provably-small input to full core
    width before an expensive per-row stage; identity for anything the
    optimizer estimates above cores × `_BYTES_PER_CORE` and for inputs
    the caller already repartitioned, even below narrow nodes
    (no double exchange when a query rebalances once and feeds several
    ops that each guard themselves, or feeds one kernel's output to
    another's). The rule reads only the input, so callers take no
    switch."""
    if _repartitioned(df):
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    est = _estimated_bytes(df)
    if est is not None and est < cores * _BYTES_PER_CORE:
        return df.repartition(cores)
    return df


def exchange_width(df: DataFrame) -> int:
    """Partition count for an explicit hash exchange of `df`, in whole
    waves of the cores the job runs on (``defaultParallelism``): one
    partition per scan split's worth of estimated input bytes
    (``spark.sql.files.maxPartitionBytes``), at least one, rounded up
    to a multiple of the cores. An explicit count is not coalesced by
    AQE, so a small input runs one task per core and no second wave of
    near-empty tasks, and a large one keeps the parallelism its scan
    had without a last wave holding a few tasks. An input the optimizer
    cannot size (no stats, or the ``Long.MaxValue`` default) gets one
    wave. ``spark.sql.shuffle.partitions`` is a floor for AQE-coalesced
    shuffles and does not apply here."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    est = _estimated_bytes(df)
    if est is None or est >= (1 << 63) - 1:
        return cores
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    splits = max(1, -(-est // split))
    return cores * -(-splits // cores)


def dim_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Literal dimension table with an HONEST size estimate.

    `spark.createDataFrame(rows, ...)` plans as a node whose
    sizeInBytes is Long.MaxValue (stats unknown), and that estimate is
    contagious: a union of a 5 MB corpus with a 2-row literal table is
    estimated at ~8 EB, which (measured, sf1.0 replica) silently
    disables BOTH the `rebalance_narrow` gate (the planted curation
    corpus ran its shingle explode and gate regexes on one core) and
    broadcast-join selection downstream (the Jaccard verify joins fell
    back to SortMergeJoin) — ~3x on the whole MinHash pass.

    Building the same rows as a projection over `spark.range(n)` keeps
    exact row-count stats, so the estimate stays a few hundred bytes.
    `schema` is the same DDL string createDataFrame takes (parsed by
    Spark, so `decimal(10,2)` and nested types work); column order must
    match the tuples. Values must already match the declared types:
    `cast` converts what it can (1.5 in an int column reads 1) and
    raises only when a job runs, where `createDataFrame` rejects any
    mismatch at once. Empty `rows` give an empty table of that
    schema."""
    fields = StructType.fromDDL(schema).fields
    idx = (F.col("id") + 1).cast("int")
    cols = [
        (F.element_at(F.array(*[F.lit(r[i]) for r in rows]), idx)
         if rows else F.lit(None)).cast(f.dataType).alias(f.name)
        for i, f in enumerate(fields)
    ]
    return spark.range(len(rows)).select(*cols)
