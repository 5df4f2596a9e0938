"""Engine-2 dataflow: layout kernel → relational rules → output series.

Everything after the Arrow kernel is pure DataFrame ops (Catalyst):

* A1 last-write-wins and the A6 vacation adjustment (reference
  ``ficha_financeira_processor.py:935-996``) happen inside the kernel's
  per-document finisher (``kernel.finish_doc``);
* A7 zero-fill            = month-dimension LEFT JOIN (``:917-933``);
* C6 minutes mode / C5 formatting = Arrow UDFs over canonical decimal
  strings (scale-preserving — see ``functions/brnum.py``).

Values travel as canonical decimal strings ('1234.56') end-to-end:
exact, order-independent, and scale-preserving (the minutes rule reads
'9.3' differently from '9.30').

Scale notes (100 TB story): the kernel stage is shuffle-free
(one row per document, mapInPandas). The only shuffles are the
per-code series joins — all keyed on (url, year, month), a
high-cardinality nearly-uniform key. The month dimension is a few
hundred rows → broadcast. Oversized documents are bounded by
pages-per-doc, not rows, so AQE skew handling plus
`spark.sql.files.maxPartitionBytes` keeps tasks even.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.brnum import convert_minutes_udf, format_decimal_udf
from .kernel import E2_LONG_SCHEMA, METRICS_CODE, make_extract_kernel


def extract_ficha(pages_df: DataFrame, repartition: bool | None = None,
                  adjust_vacation: bool = False) -> DataFrame:
    """pages table → long extraction rows (+ per-doc __metrics__ rows).

    Shuffle-free in the normal case: one input row per document, straight
    scan → mapInPandas kernel (the 100 TB plan shape — payload bytes
    never shuffle). `repartition=None` auto-inserts one round-robin
    exchange only when the scan yields fewer partitions than cores
    (tiny local corpora); it also evens long-tail document-size skew.
    For truly oversized single documents use
    engine2.salted.extract_ficha_salted (page-range split + exact
    carry-state handoff).

    `adjust_vacation=True` applies the A6 adjustment in the kernel's
    per-document finisher (zero extra shuffles; byte-identical to
    oracle_ref, pinned by tests).
    """
    # the only consumer of `text` in this kernel is the person-name
    # scan, which reads the FIRST page only (reference :854-912, and
    # oracle_ref.e2_person_name does text.split("\f", 1)[0]) — truncate
    # JVM-side so the Arrow transfer ships one page of text per
    # document instead of the whole document
    df = pages_df.select(
        "url", "html",
        F.substring_index(F.col("text"), "\f", 1).alias("text"),
    ).filter(F.length("html") > 0)
    n_part = pages_df.sparkSession.sparkContext.defaultParallelism
    if repartition is None:
        repartition = df.rdd.getNumPartitions() < n_part
    if repartition:
        df = df.repartition(n_part)
    return df.mapInPandas(make_extract_kernel(adjust_vacation),
                          schema=E2_LONG_SCHEMA)


def values_table(long_df: DataFrame) -> DataFrame:
    return long_df.filter(F.col("code") != METRICS_CODE).select(
        "url", "code", "year", "month", "value"
    )


def metrics_table(long_df: DataFrame) -> DataFrame:
    return long_df.filter(F.col("code") == METRICS_CODE).select(
        "url", "pages", "decode_failures", "conflicts", "carry_expired", "person"
    )


def month_dim(spark: SparkSession, start: tuple[int, int],
              end: tuple[int, int]) -> DataFrame:
    """Generated month dimension [(start..end)] — tiny, broadcastable."""
    (y0, m0), (y1, m1) = start, end
    return spark.sql(
        f"""SELECT year(m) AS year, month(m) AS month
            FROM (SELECT explode(sequence(to_date('{y0:04d}-{m0:02d}-01'),
                                          to_date('{y1:04d}-{m1:02d}-01'),
                                          interval 1 month)) AS m)"""
    )


def series_for_code(vals: DataFrame, code: str, start: tuple[int, int],
                    end: tuple[int, int],
                    urls: DataFrame | None = None) -> DataFrame:
    """A7 zero-fill: every requested month per url, missing → '0'.

    The dimension side is broadcast (months × 1); urls default to the
    distinct urls in `vals` (per-document output parity with the
    reference, which emits one CSV per PDF).
    """
    spark = vals.sparkSession
    dim = month_dim(spark, start, end)
    if urls is None:
        urls = vals.select("url").distinct()
    grid = urls.crossJoin(F.broadcast(dim))
    ser = vals.filter(F.col("code") == code).select("url", "year", "month", "value")
    return (
        grid.join(ser, ["url", "year", "month"], "left")
        .withColumn("value", F.coalesce(F.col("value"), F.lit("0")))
    )


def format_decimal_col(col_name: str):
    return format_decimal_udf(F.col(col_name))


# ---------------------------------------------------------------------------
# Output tables (writers K2/K3/K4 as DataFrames)
# ---------------------------------------------------------------------------

def default_series_table(vals: DataFrame, code: str, start, end) -> DataFrame:
    """K2 (PROVENTOS / ADIC. INSALUBRIDADE): zero-filled + formatted."""
    ser = series_for_code(vals, code, start, end)
    return ser.select(
        "url", "year", "month",
        F.format_string("%02d/%04d", "month", "year").alias("mes_ano"),
        format_decimal_udf(F.col("value")).alias("valor"),
    )


def _ym(y, m):
    return y * 12 + m


def _out_of_range(start, end):
    (y0, m0), (y1, m1) = start, end
    ym = F.col("year") * 12 + F.col("month")
    return (ym < F.lit(_ym(y0, m0))) | (ym > F.lit(_ym(y1, m1)))


def cartoes_table(vals: DataFrame, start, end, minutes_mode: bool = False) -> DataFrame:
    """K3: HORA EXTRA 50% (+ conditional 100% column per url — A8).

    Writer semantics (``_write_cartoes_csv``, reference
    ``ficha_financeira_processor.py:1035-1080``): the requested months
    zero-filled in range order, THEN — appended after the range, sorted —
    any month present in the 100%-series but in neither the 50%-series
    nor the range (``missing_months``, ``:1059-1065``). The include-100%
    flag (A8) reads ALL extracted 100%-values, in- or out-of-range
    (``:1049-1051``). ``is_extra`` marks appended rows so renderers can
    reproduce the reference row order (range rows first).
    """
    h50_raw = vals.filter(F.col("code") == "6-Horas").select(
        "url", "year", "month", "value")
    h100_raw = vals.filter(F.col("code") == "14-Horas100").select(
        "url", "year", "month", "value")

    keys = ["url", "year", "month"]
    h50 = series_for_code(vals, "6-Horas", start, end).withColumnRenamed("value", "v50")
    h100 = h100_raw.withColumnRenamed("value", "v100")
    in_range = (
        h50.join(h100, keys, "left")
        .withColumn("v100", F.coalesce("v100", F.lit("0")))
        .withColumn("is_extra", F.lit(False))
    )
    # missing_months: 100%-series keys outside the range that the
    # 50%-series doesn't cover (keys covered by the 50%-series but out of
    # range are dropped — exactly the reference's membership test)
    extra = (
        h100_raw.filter(_out_of_range(start, end))
        .join(h50_raw, keys, "left_anti")
        .select("url", "year", "month", F.lit("0").alias("v50"),
                F.col("value").alias("v100"), F.lit(True).alias("is_extra"))
    )
    df = in_range.unionByName(extra)
    if minutes_mode:
        df = df.withColumn("v50", convert_minutes_udf("v50")) \
               .withColumn("v100", convert_minutes_udf("v100"))
    # A8: include the 100% column only when the url has any nonzero
    # extracted value (the writer reads the full horas_100 map)
    inc = h100_raw.groupBy("url").agg(
        F.max(F.col("value").cast("decimal(38,6)") != 0).alias("include_extra_100"))
    # No broadcast hint: inc is one flag per url (corpus-proportional).
    # AQE broadcasts it at sandbox scale and shuffle-joins at 10^9 urls.
    return (
        df.join(inc, "url", "left")
        .withColumn("include_extra_100",
                    F.coalesce("include_extra_100", F.lit(False)))
        .select(
            "url", "year", "month",
            F.format_string("%02d/%04d", "month", "year").alias("periodo"),
            format_decimal_udf(F.col("v50")).alias("hora_extra_50"),
            format_decimal_udf(F.col("v100")).alias("hora_extra_100"),
            "include_extra_100", "is_extra",
        )
    )


def horas_trabalhadas_table(vals: DataFrame, start, end,
                            minutes_mode: bool = False) -> DataFrame:
    """K4: PERIODO;HORAS TRAB.;FALTAS (1-Salario comp column + 952).

    Writer semantics (``_write_horas_trabalhadas_csv``, reference
    ``:1082-1119``): range months zero-filled in order, then
    ``additional_months`` — any month of either series outside the range
    — appended sorted after the range (``:1094-1100``).
    """
    keys = ["url", "year", "month"]
    h_raw = vals.filter(F.col("code") == "1-Salario").select(
        "url", "year", "month", "value")
    f_raw = vals.filter(F.col("code") == "952-FaltaInjustifica").select(
        "url", "year", "month", "value")

    horas = series_for_code(vals, "1-Salario", start, end).withColumnRenamed("value", "vh")
    faltas = f_raw.withColumnRenamed("value", "vf")
    in_range = (
        horas.join(faltas, keys, "left")
        .withColumn("vf", F.coalesce("vf", F.lit("0")))
        .withColumn("is_extra", F.lit(False))
    )
    extra = (
        h_raw.withColumnRenamed("value", "vh")
        .join(f_raw.withColumnRenamed("value", "vf"), keys, "full_outer")
        .filter(_out_of_range(start, end))
        .select("url", "year", "month",
                F.coalesce("vh", F.lit("0")).alias("vh"),
                F.coalesce("vf", F.lit("0")).alias("vf"),
                F.lit(True).alias("is_extra"))
    )
    df = in_range.unionByName(extra)
    if minutes_mode:
        df = df.withColumn("vh", convert_minutes_udf("vh")) \
               .withColumn("vf", convert_minutes_udf("vf"))
    return df.select(
        "url", "year", "month",
        F.format_string("%02d/%04d", "month", "year").alias("periodo"),
        format_decimal_udf(F.col("vh")).alias("horas_trab"),
        format_decimal_udf(F.col("vf")).alias("faltas"),
        "is_extra",
    )


# ---------------------------------------------------------------------------
# Byte-exact CSV renderers (fixture-parity; reference :998-1119)
# ---------------------------------------------------------------------------

DEFAULT_HEADER = ("MES_ANO;VALOR;FGTS;FGTS_REC.;CONTRIBUICAO_SOCIAL;"
                  "CONTRIBUICAO_SOCIAL_REC.;;;;")


def render_default_csv(rows: list[tuple[str, str]]) -> str:
    """rows = [(mes_ano, formatted_value)] ordered by (year, month)."""
    out = [DEFAULT_HEADER]
    for mes_ano, valor in rows:
        out.append(f"{mes_ano};{valor};N;N;N;N;;;;")
    return "\n".join(out) + "\n"


def render_cartoes_csv(rows: list[tuple[str, str, str]], include_extra: bool) -> str:
    header = "PERIODO;HORA EXTRA 50%" + (";HORA EXTRA 100%" if include_extra else "")
    out = [header]
    for periodo, v50, v100 in rows:
        out.append(f"{periodo};{v50};{v100}" if include_extra else f"{periodo};{v50}")
    return "\n".join(out) + "\n"


def render_horas_csv(rows: list[tuple[str, str, str]]) -> str:
    out = ["PERIODO;HORAS TRAB.;FALTAS"]
    for periodo, vh, vf in rows:
        out.append(f"{periodo};{vh};{vf}")
    return "\n".join(out) + "\n"
