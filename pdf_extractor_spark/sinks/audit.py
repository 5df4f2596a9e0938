"""K5 — audit / lineage table (north-rule requirement).

Per-partition + per-document lineage and extraction metrics: pages
parsed, decode failures, conflict overwrites, expired carries —
the Spark-side analog of the reference's history.json entries
(``desktop_app.py:871-939``). The jobs write these rows as the run's
``run_id`` partition (``TableIO.write_run``, other runs kept), so every
job run leaves an auditable trail and a retried run replaces its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_audit(metrics_df: DataFrame, run_id: str) -> DataFrame:
    """Attach run/partition lineage to per-document metric rows.

    `metrics_df` is engine-specific (Engine-2 `metrics_table`, Engine-1
    `page_metrics`); any numeric columns are preserved.
    """
    return metrics_df.withColumns(
        {
            "run_id": F.lit(run_id),
            "partition_id": F.spark_partition_id(),
            "audit_ts": F.current_timestamp(),
        }
    )


def partition_summary(audit_df: DataFrame) -> DataFrame:
    """Per-partition rollup: the north rule's 'per-partition lineage +
    metrics' view (docs, pages, failures per task)."""
    num_cols = [
        c for c, t in audit_df.dtypes
        if t in ("int", "bigint", "double") and c != "partition_id"
    ]
    aggs = [F.count("*").alias("docs")] + [
        F.sum(c).alias(f"sum_{c}") for c in num_cols
    ]
    return audit_df.groupBy("run_id", "partition_id").agg(*aggs)
