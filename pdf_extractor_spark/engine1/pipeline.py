"""Engine-1 dataflow: pages table → one per-document kernel pass.

The whole engine — classification, reference date, rule matching,
number parse, A2-A5 page rules and last-page-wins — runs in
``kernel.kernel`` under ``mapInArrow`` over ``(url, text)``, one input
row per document, so the plan is scan → (size-gated round-robin
rebalance) → kernel, with no keyed exchange, window or join. Its long
output splits into the values, attention and metrics tables
(``split_long``); callers that read more than one of them persist the
long table once.

``explode_pages`` / ``classify_pages`` / ``page_metrics`` keep the
page-level view for callers that want it; ``classify_pages`` runs the
kernel's classifier and date parser through a vectorized UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..ops.layout import rebalance_narrow
from . import kernel as K

PERIOD_COLS = ["url", "folha_type", "year", "month"]


def explode_pages(pages_df: DataFrame) -> DataFrame:
    """S3: one row per page, preserving page order."""
    return (
        pages_df.filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select("url", F.posexplode(F.split("text", "\f")).alias("page_idx", "page"))
    )


@pandas_udf(StructType([StructField("folha_type", StringType()),
                         StructField("month", IntegerType()),
                         StructField("year", IntegerType())]))
def _classify_udf(pages: pd.Series) -> pd.DataFrame:
    types, months, years = [], [], []
    for page in pages:
        types.append(K.classify(page))
        year, month = K.reference_date(page) or (None, None)
        months.append(month)
        years.append(year)
    return pd.DataFrame({"folha_type": types,
                         "month": pd.array(months, dtype="Int32"),
                         "year": pd.array(years, dtype="Int32")})


def classify_pages(page_rows: DataFrame) -> DataFrame:
    """F1 classifier + C3 reference date. Keeps ALL pages (metrics need
    the dropped ones); downstream filters on folha_type/date."""
    c = _classify_udf(F.col("page"))
    return page_rows.withColumns(
        {"folha_type": c["folha_type"], "month": c["month"], "year": c["year"]})


def page_metrics(classified: DataFrame) -> DataFrame:
    """K5/A9 per-document lineage counters (audit-table feed)."""
    valid = F.col("folha_type").isin(K.FOLHA_NORMAL, K.SALARIO_13)
    return classified.groupBy("url").agg(
        F.count("*").alias("total_pages"),
        F.sum((F.col("folha_type").isNull() | ~valid).cast("int")).alias("ignored"),
        F.sum((valid & F.col("year").isNull()).cast("int")).alias("no_date"),
        F.sum((F.col("folha_type") == K.FOLHA_NORMAL).cast("int")).alias("folha_normal_pages"),
        F.sum((F.col("folha_type") == K.SALARIO_13).cast("int")).alias("salario13_pages"),
    )


def extract_long(pages_df: DataFrame) -> DataFrame:
    """pages table → the kernel's long rows (``kernel.E1_LONG_SCHEMA``).
    The round-robin rebalance fires only for a provably small input
    (``ops.layout``), so a narrow scan still feeds every core."""
    docs = pages_df.select("url", "text").filter(
        F.col("text").isNotNull() & (F.col("text") != ""))
    return rebalance_narrow(docs).mapInArrow(K.kernel, K.E1_LONG_SCHEMA)


def split_long(long_df: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The kernel's long rows → (values, attention, metrics):
      values    = (url, folha_type, year, month, excel_col,
                   value struct<num double, txt string, is_time boolean>)
      attention = (url, folha_type, year, month, kind, description,
                   codes array<string>, excel_col)
      metrics   = page_metrics' columns, one row per document"""
    kind = F.col("kind")
    values = long_df.filter(kind == K.VALUE_KIND).select(
        *PERIOD_COLS, "excel_col",
        F.struct("num", "txt", "is_time").alias("value"))
    attention = long_df.filter(~kind.isin(K.VALUE_KIND, K.METRICS_KIND)).select(
        *PERIOD_COLS, "kind", "description", "codes", "excel_col")
    metrics = long_df.filter(kind == K.METRICS_KIND).select(
        "url", "total_pages", "ignored", "no_date", "folha_normal_pages",
        "salario13_pages")
    return values, attention, metrics


def extract_folha(pages_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full Engine-1 extraction → (values, attention) as in
    ``split_long``. The long table is persisted so the two outputs
    share one kernel pass."""
    long_df = extract_long(pages_df).persist(StorageLevel.MEMORY_AND_DISK)
    values, attention, _ = split_long(long_df)
    return values, attention
