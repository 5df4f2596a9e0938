"""Checkpoint/resume via a processed-url manifest.

The north rule requires resumability from checkpoint via Iceberg
snapshot-id incremental reads. On Iceberg the incremental read is:

    spark.read.format("iceberg")
         .option("start-snapshot-id", last_done)
         .option("end-snapshot-id", current).table("pages")

On plain parquet the same contract is kept with a run-keyed manifest
of processed urls (the commit protocol in `sinks/tableio.py`): a
resumed run anti-joins its input against every other run's manifest
(`TableIO.read_state`), processes the remainder, and writes its urls
as its own manifest partition after every other output. A crashed run
retried under its own run_id rewrites its partitions, so each
document's rows appear once. An unreadable manifest raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tableio import ParquetSnapshotTableIO


def manifest_rows(urls: DataFrame) -> DataFrame:
    """The manifest's (url, ts) rows for a run's processed urls."""
    return urls.select("url").distinct().withColumn("ts", F.current_timestamp())


def update_manifest(processed_urls: DataFrame, manifest_path: str,
                    run_id: str) -> None:
    """Write `processed_urls` as run `run_id`'s partition of the parquet
    manifest at `manifest_path`, keeping other runs."""
    root, name = manifest_path.rstrip("/").rsplit("/", 1)
    ParquetSnapshotTableIO(root).write_run(
        manifest_rows(processed_urls), name, run_id, keep_other_runs=True)
