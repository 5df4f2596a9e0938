"""TableIO — storage abstraction behind the sinks, and the one commit
protocol both jobs use for their outputs:

* ``write_run`` writes a run's rows as the ``run_id`` partition of a
  table, replacing that partition (and every other run's too unless
  ``keep_other_runs``), so retrying a crashed run under its own run_id
  rewrites its partial output instead of adding a second copy;
* ``read_state`` reads resume state without the caller's own run_id; a
  missing table is None and any other read error propagates;
* the jobs write their resume state last.

A crash retried under a NEW run_id is not covered: its partial
partitions stay (that needs a commit record and an orphan sweep).

The keyed fill-if-empty target (K1, ``merge_fill_if_empty``) is
replay-safe on its own. Two implementations:

* ``ParquetSnapshotTableIO`` — works everywhere. Read-modify-write
  tables are stored as immutable snapshot directories plus an atomic
  pointer file (``version-hint.text`` — the exact scheme Iceberg's
  ``HadoopTables`` catalog uses), manipulated through the **Hadoop
  FileSystem API**, so the same code runs on HDFS/s3a/gs/abfs with no
  driver-local filesystem assumption (no ``shutil``). Old snapshots are
  retained → time travel + "process since snapshot N" resume.
* ``IcebergTableIO`` — native path when the Iceberg runtime jars and
  SQL extensions are on the classpath: ``MERGE INTO`` (reference
  fill-if-empty semantics, ``pdf_processor_core.py:769-772``),
  and ``writeTo().overwritePartitions()``.
  Not runnable in this sandbox (no jars) — `available()` gates it and
  tests cover the parquet implementation; the SQL it emits is the
  public documented Iceberg-Spark API.
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .merge import merge_if_empty


class TableIO(ABC):
    """Minimal table contract the jobs need: run-keyed tables, one
    read-modify-write keyed target, and resume state."""

    @abstractmethod
    def read(self, spark: SparkSession, name: str) -> DataFrame | None:
        """Current contents, or None if the table doesn't exist yet."""

    @abstractmethod
    def write_run(self, df: DataFrame, name: str, run_id: str,
                  keep_other_runs: bool) -> None:
        """Write `df` as the `run_id` partition of `name`, replacing
        that partition; other runs' partitions survive only when
        `keep_other_runs`."""

    def read_state(self, spark: SparkSession, name: str,
                   run_id: str) -> DataFrame | None:
        """Rows of every run except `run_id` (without the run_id
        column), or None if the table doesn't exist yet."""
        df = self.read(spark, name)
        if df is None:
            return None
        return df.filter(F.col("run_id") != run_id).drop("run_id")

    @abstractmethod
    def merge_fill_if_empty(self, spark: SparkSession, name: str,
                            updates: DataFrame, keys: list[str],
                            value_col: str = "value") -> None:
        """MERGE INTO <name> USING updates ON keys
        WHEN MATCHED AND (value IS NULL OR value = 0) THEN UPDATE
        WHEN NOT MATCHED THEN INSERT (reference Excel-cell semantics)."""


# ---------------------------------------------------------------------------
# Parquet snapshots + version-hint pointer (Hadoop FileSystem API)
# ---------------------------------------------------------------------------

class ParquetSnapshotTableIO(TableIO):
    def __init__(self, root: str) -> None:
        self.root = root.rstrip("/")

    # -- Hadoop FS helpers (object-store safe; no local-FS assumption) --
    def _fs(self, spark: SparkSession, path: str):
        jvm = spark.sparkContext._jvm
        juri = jvm.java.net.URI(path)
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        return jvm.org.apache.hadoop.fs.FileSystem.get(juri, conf), jvm

    def _hint_path(self, name: str) -> str:
        return f"{self.root}/{name}/version-hint.text"

    def _read_hint(self, spark: SparkSession, name: str) -> int | None:
        fs, jvm = self._fs(spark, self.root)
        p = jvm.org.apache.hadoop.fs.Path(self._hint_path(name))
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            reader = jvm.java.io.BufferedReader(
                jvm.java.io.InputStreamReader(stream, "UTF-8"))
            return int(reader.readLine().strip())
        finally:
            stream.close()

    def _write_hint(self, spark: SparkSession, name: str, version: int) -> None:
        # Write to a temp file, then rename over the hint — a concurrent
        # reader never observes an empty/partial hint (same scheme
        # Iceberg's HadoopTableOperations uses for version-hint.text).
        fs, jvm = self._fs(spark, self.root)
        hint = jvm.org.apache.hadoop.fs.Path(self._hint_path(name))
        tmp = jvm.org.apache.hadoop.fs.Path(self._hint_path(name) + ".tmp")
        stream = fs.create(tmp, True)
        try:
            stream.write(str(version).encode("utf-8"))
        finally:
            stream.close()
        fs.delete(hint, False)
        if not fs.rename(tmp, hint):
            raise IOError(f"version-hint rename failed for {name}")

    def _snap_dir(self, name: str, version: int) -> str:
        return f"{self.root}/{name}/snap-{version:08d}"

    def _current_version(self, spark: SparkSession, name: str) -> int | None:
        # The hint write is delete-then-rename (rename does not
        # overwrite on every Hadoop FS), so a concurrent reader can
        # land in the no-hint gap. Snapshot dirs themselves are
        # immutable once the pointer has ever referenced them, so
        # max(snapshots()) is the correct recovery — never the plain
        # parquet path, which would sweep snap-* dirs + .tmp files.
        v = self._read_hint(spark, name)
        if v is not None:
            return v
        snaps = self.snapshots(spark, name)
        return snaps[-1] if snaps else None

    # -- TableIO ---------------------------------------------------------
    def read(self, spark: SparkSession, name: str) -> DataFrame | None:
        v = self._current_version(spark, name)
        if v is not None:
            return spark.read.parquet(self._snap_dir(name, v))
        # run-keyed table (never snapshotted)
        fs, jvm = self._fs(spark, self.root)
        p = jvm.org.apache.hadoop.fs.Path(f"{self.root}/{name}")
        if not fs.exists(p):
            return None
        return spark.read.parquet(f"{self.root}/{name}")

    def write_run(self, df: DataFrame, name: str, run_id: str,
                  keep_other_runs: bool) -> None:
        w = df.withColumn("run_id", F.lit(run_id)).write.partitionBy("run_id")
        if keep_other_runs:
            w = w.option("partitionOverwriteMode", "dynamic")
        w.mode("overwrite").parquet(f"{self.root}/{name}")

    def append(self, df: DataFrame, name: str) -> None:
        """Plain append, outside the run-keyed protocol: a retry
        duplicates rows. No job writes through it."""
        df.write.mode("append").parquet(f"{self.root}/{name}")

    def merge_fill_if_empty(self, spark: SparkSession, name: str,
                            updates: DataFrame, keys: list[str],
                            value_col: str = "value") -> None:
        """Emulated MERGE: read current snapshot, full-outer fill, write
        the NEXT snapshot directory, flip the pointer. The old snapshot
        stays readable (writers never mutate data in place — the same
        isolation story as Iceberg, at directory granularity)."""
        v = self._current_version(spark, name)
        target = (spark.read.parquet(self._snap_dir(name, v))
                  if v is not None else updates.limit(0))
        merged = merge_if_empty(target, updates, keys, value_col)
        nxt = (v or 0) + 1
        merged.write.mode("overwrite").parquet(self._snap_dir(name, nxt))
        self._write_hint(spark, name, nxt)

    def snapshots(self, spark: SparkSession, name: str) -> list[int]:
        fs, jvm = self._fs(spark, self.root)
        p = jvm.org.apache.hadoop.fs.Path(f"{self.root}/{name}")
        if not fs.exists(p):
            return []
        out = []
        for st in fs.listStatus(p):
            base = st.getPath().getName()
            if base.startswith("snap-"):
                out.append(int(base[5:]))
        return sorted(out)


# ---------------------------------------------------------------------------
# Native Iceberg (requires iceberg-spark-runtime on the classpath)
# ---------------------------------------------------------------------------

class IcebergTableIO(TableIO):
    """MERGE INTO / partition-overwrite implementation against an
    Iceberg catalog. Emits only the public Iceberg-Spark SQL/DataFrame
    API; gated by `available()` since this sandbox has no Iceberg jars.
    """

    def __init__(self, database: str, catalog: str = "spark_catalog") -> None:
        self.db = database
        self.catalog = catalog

    def _t(self, name: str) -> str:
        return f"{self.catalog}.{self.db}.{name}"

    @staticmethod
    def available(spark: SparkSession) -> bool:
        try:
            spark.sparkContext._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.extensions."
                "IcebergSparkSessionExtensions")
            return True
        except Exception:
            return False

    def _exists(self, spark: SparkSession, name: str) -> bool:
        return spark.catalog.tableExists(self._t(name))

    def read(self, spark: SparkSession, name: str) -> DataFrame | None:
        if not self._exists(spark, name):
            return None
        return spark.table(self._t(name))

    def write_run(self, df: DataFrame, name: str, run_id: str,
                  keep_other_runs: bool) -> None:
        w = df.withColumn("run_id", F.lit(run_id)).writeTo(self._t(name))
        if keep_other_runs and self._exists(df.sparkSession, name):
            w.overwritePartitions()
        else:
            w.partitionedBy(F.col("run_id")).createOrReplace()

    def merge_fill_if_empty(self, spark: SparkSession, name: str,
                            updates: DataFrame, keys: list[str],
                            value_col: str = "value") -> None:
        if not self._exists(spark, name):
            updates.writeTo(self._t(name)).create()
            return
        updates.createOrReplaceTempView("__merge_updates")
        on = " AND ".join(f"t.{k} = u.{k}" for k in keys)
        spark.sql(f"""
            MERGE INTO {self._t(name)} t
            USING __merge_updates u ON {on}
            WHEN MATCHED AND (t.{value_col} IS NULL
                              OR TRY_CAST(t.{value_col} AS DOUBLE) = 0.0)
                 THEN UPDATE SET t.{value_col} = u.{value_col}
            WHEN NOT MATCHED THEN INSERT *
        """)


def get_table_io(kind: str, root_or_db: str) -> TableIO:
    if kind == "iceberg":
        return IcebergTableIO(root_or_db)
    return ParquetSnapshotTableIO(root_or_db)
