"""Driver-contract query registry: every implemented operator from
SURVEY.md §2 (plus the corpus-curation ops) as a (Spark callable,
DuckDB oracle SQL) pair over the testdata tables.

Conventions for hash parity with the driver's DuckDB compare:
* every computed column is aliased identically on both sides;
* float aggregates are ROUND()ed (sum order differs between engines at
  ~1e-13 relative — rounding makes the hash stable);
* timestamps are emitted as epoch microseconds (unix_micros/epoch_us);
* int widths are cast explicitly where the engines' defaults differ.

Engine-pipeline queries (synthetic pages corpus) have no SQL oracle —
DuckDB only sees the testdata views — and rely on the pytest oracle
(tests/test_engine{1,2}.py) for correctness; the driver records a
rows-only check for them.
"""

from __future__ import annotations

from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .ops.textstats import EN_WORDS, EN_WORDS_FULL, PT_WORDS, PT_WORDS_FULL

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn
    return deco


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.5)
# ---------------------------------------------------------------------------

@q("q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                            AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                       AS sum_base,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)    AS sum_disc,
       ROUND(AVG(l_quantity), 4)                            AS avg_qty,
       COUNT(*)                                             AS n_rows
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1997-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1997-09-01 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("n_rows"),
        )
    )


@q("a2_indice_fallback", """
SELECT l_returnflag,
       ROUND(SUM(CASE WHEN l_discount <> 0 THEN l_discount ELSE l_tax END), 4)
           AS used_total,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""")
def a2_indice_fallback(spark, sf_dir):
    # A2 shape: prefer field A when non-zero else fall back to field B
    li = T(spark, sf_dir, "lineitem")
    used = F.when(F.col("l_discount") != 0, F.col("l_discount")).otherwise(
        F.col("l_tax"))
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(used), 4).alias("used_total"),
        F.count("*").alias("n_rows"),
    )


@q("a3_sum_when_together", """
SELECT o_custkey, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY o_custkey HAVING COUNT(*) > 1
""")
def a3_sum_when_together(spark, sf_dir):
    # A3 shape: same key appears more than once in a period → SUM + flag
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
        .filter(F.col("n_orders") > 1)
    )


@q("a4_description_duplicates", """
SELECT o_custkey, o_orderpriority, COUNT(*) AS n
FROM orders GROUP BY o_custkey, o_orderpriority HAVING COUNT(*) > 1
""")
def a4_description_duplicates(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


@q("a5_coalesce_fallback", """
SELECT l_orderkey,
       COALESCE(NULLIF(ROUND(SUM(CASE WHEN l_returnflag = 'R'
                                      THEN l_quantity END), 2), 0),
                NULLIF(ROUND(SUM(CASE WHEN l_returnflag = 'A'
                                      THEN l_quantity END), 2), 0)) AS b_value
FROM lineitem GROUP BY l_orderkey
HAVING b_value IS NOT NULL
""")
def a5_coalesce_fallback(spark, sf_dir):
    # A5 shape: preferred measure, else fallback measure (13º-salário)
    li = T(spark, sf_dir, "lineitem")
    v301 = F.round(F.sum(F.when(F.col("l_returnflag") == "R",
                                F.col("l_quantity"))), 2)
    v101 = F.round(F.sum(F.when(F.col("l_returnflag") == "A",
                                F.col("l_quantity"))), 2)
    return (
        li.groupBy("l_orderkey")
        .agg(F.coalesce(F.nullif(v301, F.lit(0.0)),
                        F.nullif(v101, F.lit(0.0))).alias("b_value"))
        .filter(F.col("b_value").isNotNull())
    )


@q("a6_ratio_adjustment", """
WITH pv AS (
  SELECT user_id,
         ROUND(SUM(CASE WHEN event_type = 'view' THEN value END), 6) AS comp,
         ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 6) AS valor
  FROM events GROUP BY user_id)
SELECT user_id, comp, valor, ROUND(valor * 100 / comp, 6) AS additional
FROM pv WHERE comp IS NOT NULL AND comp <> 0 AND valor IS NOT NULL
""")
def a6_ratio_adjustment(spark, sf_dir):
    # A6 shape: valor / (comp/100) vacation-adjustment arithmetic
    e = T(spark, sf_dir, "events")
    pv = e.groupBy("user_id").agg(
        F.round(F.sum(F.when(F.col("event_type") == "view", F.col("value"))), 6)
        .alias("comp"),
        F.round(F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))), 6)
        .alias("valor"),
    )
    return (
        pv.filter(F.col("comp").isNotNull() & (F.col("comp") != 0)
                  & F.col("valor").isNotNull())
        .withColumn("additional", F.round(F.col("valor") * 100 / F.col("comp"), 6))
    )


@q("a7_zero_fill_months", """
WITH dim AS (
  SELECT CAST(EXTRACT(year FROM m) AS INTEGER) AS year,
         CAST(EXTRACT(month FROM m) AS INTEGER) AS month
  FROM generate_series(DATE '1995-01-01', DATE '1996-12-01',
                       INTERVAL '1 month') t(m)),
agg AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
         CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
         COUNT(*) AS n
  FROM orders GROUP BY 1, 2)
SELECT dim.year, dim.month, COALESCE(agg.n, 0) AS n_orders
FROM dim LEFT JOIN agg ON dim.year = agg.year AND dim.month = agg.month
""")
def a7_zero_fill_months(spark, sf_dir):
    # A7 shape: month-dimension LEFT JOIN + zero fill (broadcast dim)
    o = T(spark, sf_dir, "orders")
    dim = spark.sql(
        """SELECT CAST(year(m) AS INT) AS year, CAST(month(m) AS INT) AS month
           FROM (SELECT explode(sequence(to_date('1995-01-01'),
                                         to_date('1996-12-01'),
                                         interval 1 month)) AS m)"""
    )
    agg = o.groupBy(
        F.year("o_orderdate").cast("int").alias("year"),
        F.month("o_orderdate").cast("int").alias("month"),
    ).agg(F.count("*").alias("n"))
    return (
        F.broadcast(dim).join(agg, ["year", "month"], "left")
        .select("year", "month", F.coalesce("n", F.lit(0)).alias("n_orders"))
    )


@q("a8_any_nonzero_flag", """
SELECT user_id,
       MAX(CASE WHEN event_type = 'purchase' AND value <> 0
                THEN 1 ELSE 0 END) AS has_nonzero_purchase
FROM events GROUP BY user_id
""")
def a8_any_nonzero_flag(spark, sf_dir):
    # A8 shape: global any(value != 0) drives output schema
    e = T(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "purchase") & (F.col("value") != 0),
                   1).otherwise(0)
        ).alias("has_nonzero_purchase")
    )


# ---------------------------------------------------------------------------
# Window functions (SURVEY §2.9)
# ---------------------------------------------------------------------------

@q("w1_lead_next", """
SELECT l_suppkey, l_orderkey, l_linenumber,
       LEAD(epoch_us(l_shipdate)) OVER (
         PARTITION BY l_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber) AS next_ship_us
FROM lineitem
""")
def w1_lead_next(spark, sf_dir):
    # W1 shape: y_end = next block's y_start (LEAD)
    li = T(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber")
    return li.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.lead(F.unix_micros(F.col("l_shipdate").cast("timestamp"))).over(w).alias("next_ship_us"),
    )


@q("w2_carry_forward", """
SELECT event_id, user_id,
       ROUND(LAST_VALUE(CASE WHEN event_type = 'click' THEN value END
                        IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS carried
FROM events
""")
def w2_carry_forward(spark, sf_dir):
    # W2 shape: column-center carry-forward (LAST ignoreNulls)
    e = T(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "click", F.col("value"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return e.select(
        "event_id", "user_id",
        F.round(F.last(v, ignorenulls=True).over(w), 6).alias("carried"),
    )


@q("w3_last_write_wins", """
SELECT user_id, event_type, event_id, ROUND(value, 6) AS last_value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
""")
def w3_last_write_wins(spark, sf_dir):
    # W3/A1 shape: last-write-wins dedup. The top-1-per-key is a
    # lexicographic max over struct(ts, event_id, value) — event_id is
    # unique, so this equals the row_number(ts DESC, event_id DESC)=1
    # row (oracle + exceptAll-verified) while replacing the
    # exchange+sort+window with a partial-aggregating groupBy: map-side
    # combine shrinks the shuffle to one row per key per map partition
    # (guide §2.3 "aggregate before you shuffle"). 1.48 → 0.51 s at
    # sf1.0.
    e = T(spark, sf_dir, "events")
    top = (e.groupBy("user_id", "event_type")
           .agg(F.max(F.struct("ts", "event_id", "value")).alias("t")))
    return top.select("user_id", "event_type",
                      F.col("t.event_id").alias("event_id"),
                      F.round("t.value", 6).alias("last_value"))


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.6)
# ---------------------------------------------------------------------------

@q("j1_region_revenue", """
SELECT r.r_name, COUNT(*) AS n_orders, ROUND(SUM(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""")
def j1_region_revenue(spark, sf_dir):
    # J1 shape: broadcast dimension joins (nation/region are tiny)
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@q("j2_full_outer_series", """
WITH c AS (SELECT CAST(EXTRACT(day FROM ts) AS INTEGER) AS day,
                  ROUND(SUM(value), 4) AS click_total
           FROM events WHERE event_type = 'click' GROUP BY 1),
     v AS (SELECT CAST(EXTRACT(day FROM ts) AS INTEGER) AS day,
                  ROUND(SUM(value), 4) AS view_total
           FROM events WHERE event_type = 'view' GROUP BY 1)
SELECT COALESCE(c.day, v.day) AS day,
       COALESCE(c.click_total, 0) AS click_total,
       COALESCE(v.view_total, 0) AS view_total
FROM c FULL OUTER JOIN v ON c.day = v.day
""")
def j2_full_outer_series(spark, sf_dir):
    # J2 shape: two sparse series full-outer joined (cartões writer)
    e = T(spark, sf_dir, "events")
    day = F.dayofmonth("ts").cast("int").alias("day")

    def series(et, alias):
        return (e.filter(F.col("event_type") == et).groupBy(day)
                .agg(F.round(F.sum("value"), 4).alias(alias)))

    c, v = series("click", "click_total"), series("view", "view_total")
    return (
        c.join(v, "day", "full_outer")
        .select("day",
                F.coalesce("click_total", F.lit(0.0)).alias("click_total"),
                F.coalesce("view_total", F.lit(0.0)).alias("view_total"))
    )


@q("j5_band_join", """
WITH tiers(tier, lo, hi) AS (
  VALUES ('small', 1, 10), ('medium', 11, 25), ('large', 26, 50))
SELECT t.tier, COUNT(*) AS n_parts, ROUND(AVG(p.p_retailprice), 4) AS avg_price
FROM part p JOIN tiers t ON p.p_size BETWEEN t.lo AND t.hi
GROUP BY t.tier
""")
def j5_band_join(spark, sf_dir):
    # J5/J6 shape: non-equi band join (row bands / geometric bands)
    p = T(spark, sf_dir, "part")
    tiers = spark.createDataFrame(
        [("small", 1, 10), ("medium", 11, 25), ("large", 26, 50)],
        "tier string, lo int, hi int")
    return (
        p.join(F.broadcast(tiers),
               (p.p_size >= tiers.lo) & (p.p_size <= tiers.hi))
        .groupBy("tier")
        .agg(F.count("*").alias("n_parts"),
             F.round(F.avg("p_retailprice"), 4).alias("avg_price"))
    )


@q("j7_asof_join", """
SELECT p_event_id, prior_click_id, prior_click_value FROM (
  SELECT p.event_id AS p_event_id, c.event_id AS prior_click_id,
         ROUND(c.value, 6) AS prior_click_value,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
  FROM events p JOIN events c
    ON p.user_id = c.user_id AND c.ts <= p.ts AND c.event_type = 'click'
  WHERE p.event_type = 'purchase') WHERE rn = 1
""")
def j7_asof_join(spark, sf_dir):
    # J7/G7 shape: as-of / nearest-neighbour join (range + rank=1).
    # The rank=1 is a lexicographic max over struct(ts, event_id,
    # value) per purchase (click event_id unique → identical to the
    # window top-1; oracle + exceptAll-verified): the join output
    # partially aggregates map-side instead of exchanging every
    # (purchase × prior-click) row into a sort+window. 1.05 → 0.70 s
    # at sf1.0.
    e = T(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").alias("p")
    c = e.filter(F.col("event_type") == "click").alias("c")
    joined = p.join(c, (F.col("p.user_id") == F.col("c.user_id"))
                    & (F.col("c.ts") <= F.col("p.ts")))
    top = (joined.groupBy(F.col("p.event_id").alias("p_event_id"))
           .agg(F.max(F.struct(F.col("c.ts").alias("ts"),
                               F.col("c.event_id").alias("event_id"),
                               F.col("c.value").alias("value"))).alias("t")))
    return top.select("p_event_id",
                      F.col("t.event_id").alias("prior_click_id"),
                      F.round("t.value", 6).alias("prior_click_value"))


@q("j4_pivot_codes", """
SELECT user_id,
       ROUND(COALESCE(SUM(CASE WHEN event_type = 'click' THEN value END), 0), 4)    AS click,
       ROUND(COALESCE(SUM(CASE WHEN event_type = 'view' THEN value END), 0), 4)     AS view,
       ROUND(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN value END), 0), 4) AS purchase,
       ROUND(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN value END), 0), 4)   AS signup,
       ROUND(COALESCE(SUM(CASE WHEN event_type = 'error' THEN value END), 0), 4)    AS error
FROM events GROUP BY user_id
""")
def j4_pivot_codes(spark, sf_dir):
    # J4 shape: multi-way code-series join as pivot
    e = T(spark, sf_dir, "events")
    piv = (e.groupBy("user_id")
           .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
           .agg(F.sum("value")))
    cols = [F.round(F.coalesce(F.col(c), F.lit(0.0)), 4).alias(c)
            for c in ["click", "view", "purchase", "signup", "error"]]
    return piv.select("user_id", *cols)


# ---------------------------------------------------------------------------
# Set ops / sorts / limits (SURVEY §2.7-2.8)
# ---------------------------------------------------------------------------

@q("u1_u3_set_ops", """
SELECT 'orders' AS src, custkey AS key FROM (
  SELECT custkey FROM (
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
  )
  UNION
  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
)
UNION ALL
SELECT 'events' AS src, user_id AS key FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  UNION
  SELECT user_id FROM events WHERE event_type = 'purchase'
)
""")
def u1_u3_set_ops(spark, sf_dir):
    """U1 + U2/U3 in one driver row (the gate evaluates the first 50
    registered queries, so the set-op surfaces share one): the `orders`
    branch is the U3 shape — key-set EXCEPT then UNION (horas writer
    month sets) — and the `events` branch is the U1 key-set union
    (cartoes writer month keys). Tagged by `src` so both result sets
    stay independently hash-checked."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    e = T(spark, sf_dir, "events")
    urgent = (o.filter(F.col("o_orderpriority") == "1-URGENT")
              .select(F.col("o_custkey").alias("key")).distinct())
    failed = (o.filter(F.col("o_orderstatus") == "F")
              .select(F.col("o_custkey").alias("key")).distinct())
    neg = (c.filter(F.col("c_acctbal") < 0)
           .select(F.col("c_custkey").alias("key")))
    u3 = (urgent.subtract(failed).union(neg).distinct()
          .select(F.lit("orders").alias("src"), "key"))
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("key"))
    buys = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("key"))
    u1 = (clicks.union(buys).distinct()
          .select(F.lit("events").alias("src"), "key"))
    return u3.unionByName(u1)


@q("o5_o6_topk", """
(SELECT 'history' AS src, event_id, epoch_us(ts) AS ts_us,
        CAST(NULL AS BIGINT) AS user_id
 FROM events ORDER BY ts DESC, event_id DESC LIMIT 10)
UNION ALL
(SELECT 'errors' AS src, event_id, epoch_us(ts) AS ts_us, user_id
 FROM events WHERE event_type = 'error'
 ORDER BY ts DESC, event_id DESC LIMIT 3)
""")
def o5_o6_topk(spark, sf_dir):
    """O5 + O6 in one driver row (50-query gate): the `history` branch
    is the O5 history-truncation top-10; the `errors` branch is the O6
    error-display top-3 (the "e mais N" count is n_rows-3)."""
    e = T(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    o5 = (e.orderBy(F.col("ts").desc(), F.col("event_id").desc())
          .select(F.lit("history").alias("src"), "event_id", ts_us,
                  F.lit(None).cast("long").alias("user_id"))
          .limit(10))
    o6 = (e.filter(F.col("event_type") == "error")
          .orderBy(F.col("ts").desc(), F.col("event_id").desc())
          .select(F.lit("errors").alias("src"), "event_id", ts_us, "user_id")
          .limit(3))
    return o5.unionByName(o6)


@q("o1_o2_geometry_order", """
SELECT 'rownum' AS src, user_id, CAST(event_id AS BIGINT) AS k,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS BIGINT) AS v1,
       CAST(NULL AS BIGINT) AS v2
FROM events
UNION ALL
SELECT 'blocks' AS src, user_id, CAST(day AS BIGINT) AS k, y_start AS v1,
       LEAD(y_start) OVER (PARTITION BY user_id ORDER BY y_start) AS v2
FROM (
  SELECT user_id, CAST(EXTRACT(day FROM ts) AS INTEGER) AS day,
         epoch_us(MIN(ts)) AS y_start
  FROM events GROUP BY 1, 2)
""")
def o1_o2_geometry_order(spark, sf_dir):
    """O1 + O2 in one driver row (50-query gate). `rownum` branch is
    the O1 relational twin — the kernel's per-page word sort (cy, then
    x0) = deterministic total order within a partition (G3 order pass,
    engine2/kernel.py _month_blocks): k=event_id, v1=pos. `blocks`
    branch is the O2 twin — blocks sorted by y_start, each bounded by
    the next block's start (G3 sort + G4 LEAD, kernel _month_blocks
    tail): k=day, v1=y_start, v2=next_start."""
    e = T(spark, sf_dir, "events")
    w1 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o1 = e.select(
        F.lit("rownum").alias("src"), "user_id",
        F.col("event_id").cast("long").alias("k"),
        F.row_number().over(w1).cast("long").alias("v1"),
        F.lit(None).cast("long").alias("v2"))
    blk = e.groupBy(
        "user_id", F.dayofmonth("ts").cast("int").alias("day")
    ).agg(F.unix_micros(F.min("ts").cast("timestamp")).alias("y_start"))
    w2 = Window.partitionBy("user_id").orderBy("y_start")
    o2 = blk.select(
        F.lit("blocks").alias("src"), "user_id",
        F.col("day").cast("long").alias("k"),
        F.col("y_start").alias("v1"),
        F.lead("y_start").over(w2).alias("v2"))
    return o1.unionByName(o2)


# ---------------------------------------------------------------------------
# Scalar/classifier operators (SURVEY §2.2-2.3)
# ---------------------------------------------------------------------------

@q("f1_classify_filter", """
SELECT lang,
       CASE WHEN text LIKE '%the%' THEN 'en-ish'
            WHEN text LIKE '%de%' THEN 'pt-ish'
            ELSE 'other' END AS text_class,
       COUNT(*) AS n
FROM documents GROUP BY 1, 2
""")
def f1_classify_filter(spark, sf_dir):
    # F1 shape: ordered classifier chain + grouped counts
    d = T(spark, sf_dir, "documents")
    cls = (F.when(F.col("text").contains("the"), "en-ish")
           .when(F.col("text").contains("de"), "pt-ish")
           .otherwise("other"))
    return (d.withColumn("text_class", cls)
            .groupBy("lang", "text_class").agg(F.count("*").alias("n")))


@q("c7_c8_date_labels", """
SELECT CASE CAST(EXTRACT(month FROM o_orderdate) AS INTEGER)
         WHEN 1 THEN 'jan' WHEN 2 THEN 'fev' WHEN 3 THEN 'mar'
         WHEN 4 THEN 'abr' WHEN 5 THEN 'mai' WHEN 6 THEN 'jun'
         WHEN 7 THEN 'jul' WHEN 8 THEN 'ago' WHEN 9 THEN 'set'
         WHEN 10 THEN 'out' WHEN 11 THEN 'nov' ELSE 'dez' END
       || '/' || strftime(o_orderdate, '%y') AS period_label,
       CAST(CASE WHEN o_orderkey % 120 > 59
                 THEN DATE '1899-12-30' + CAST(o_orderkey % 120 AS INTEGER)
                 ELSE DATE '1899-12-31' + CAST(o_orderkey % 120 AS INTEGER)
            END AS VARCHAR) AS excel_date,
       COUNT(*) AS n
FROM orders GROUP BY 1, 2
""")
def c7_c8_date_labels(spark, sf_dir):
    """C7 + C8 in one driver row (50-query gate): `period_label` is the
    C8 'jan/25' label; `excel_date` is the C7 Excel serial decode incl.
    the 1900-leap-bug branch (serial = o_orderkey % 120 spans both
    sides of the 59 cutoff)."""
    o = T(spark, sf_dir, "orders")
    abbrev = F.array(*[F.lit(x) for x in
                       ["jan", "fev", "mar", "abr", "mai", "jun",
                        "jul", "ago", "set", "out", "nov", "dez"]])
    label = F.concat(F.element_at(abbrev, F.month("o_orderdate")),
                     F.lit("/"), F.date_format("o_orderdate", "yy"))
    serial = (F.col("o_orderkey") % 120).cast("int")
    d = (F.when(serial > 59, F.date_add(F.to_date(F.lit("1899-12-30")), serial))
         .otherwise(F.date_add(F.to_date(F.lit("1899-12-31")), serial)))
    return (o.groupBy(label.alias("period_label"),
                      d.cast("string").alias("excel_date"))
            .agg(F.count("*").alias("n")))


@q("c1_last_two_numbers", r"""
SELECT doc_id,
       CASE WHEN len(toks) >= 2 THEN toks[-2] END AS penult_tok,
       CASE WHEN len(toks) >= 1 THEN toks[-1] END AS last_tok,
       len(toks) AS n_toks
FROM (SELECT doc_id,
             regexp_extract_all(text, '[0-9]+(?:[.,:][0-9]+)*') AS toks
      FROM documents)
""")
def c1_last_two_numbers(spark, sf_dir):
    # C1 shape: extract_last_two_numbers over a text line
    d = T(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(r"[0-9]+(?:[.,:][0-9]+)*"),
                                F.lit(0))
    d = d.withColumn("toks", toks)
    return d.select(
        "doc_id",
        F.when(F.size("toks") >= 2, F.element_at("toks", -2)).alias("penult_tok"),
        F.when(F.size("toks") >= 1, F.element_at("toks", -1)).alias("last_tok"),
        F.size("toks").cast("bigint").alias("n_toks"),
    )


@q("u4_stopword_removal", """
SELECT doc_id,
       len(list_distinct(list_filter(
           string_split(lower(text), ' '),
           w -> w NOT IN ('the', 'of', 'and', 'to', 'in', 'a', 'is')
       ))) AS n_content_words
FROM documents
""")
def u4_stopword_removal(spark, sf_dir):
    # U4 shape: stop-word removal via array_except (count compare only —
    # element order differs between engines)
    d = T(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(w) for w in
                     ["the", "of", "and", "to", "in", "a", "is"]])
    words = F.split(F.lower("text"), " ")
    return d.select(
        "doc_id",
        F.size(F.array_except(words, stop)).cast("bigint")
        .alias("n_content_words"),
    )


# ---------------------------------------------------------------------------
# Corpus-curation ops (dedup / text analysis / similarity)
# ---------------------------------------------------------------------------

_AUG = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 5
"""


@q("dedup_exact_hash", f"""
WITH aug AS ({_AUG})
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
       COUNT(*) AS n_dups, MIN(doc_id) AS canonical_id
FROM aug GROUP BY 1 HAVING COUNT(*) > 1
""")
def dedup_exact_hash(spark, sf_dir):
    """Exact dedup over the documents table + deterministically planted
    duplicate copies of doc_id<5 (so the check is non-vacuous)."""
    from .ops.dedup import exact_duplicates

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    aug = d.unionByName(
        d.filter(F.col("doc_id") < 5)
        .withColumn("doc_id", F.col("doc_id") + 1000000))
    return exact_duplicates(aug).select("content_hash", "n_dups",
                                        "canonical_id")


@q("text_token_count", """
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE length(regexp_split_to_array(trim(text), '\\s+')) END
         AS n_tokens,
       length(text) AS n_chars_len,
       len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS bpe_tokens
FROM documents
""")
def text_token_count(spark, sf_dir):
    """Whitespace token count + char length + BPE-ish subword-proxy
    count (letter/digit runs + punctuation marks) in one driver row
    (50-query gate; was text_token_count + text_bpe_token_count). The
    (?U) Unicode flag of the Java pattern and RE2's ASCII \\w agree on
    this corpus (ASCII text); planted non-ASCII controls live in the
    pytest layer where Java is the reference semantics."""
    from .ops.textstats import bpe_ish_token_count, token_count

    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", token_count(F.col("text")).alias("n_tokens"),
                    F.length("text").cast("bigint").alias("n_chars_len"),
                    bpe_ish_token_count(F.col("text")).alias("bpe_tokens"))


@q("text_lang_id", f"""
SELECT doc_id,
       len(regexp_extract_all(text, '(?i)\\b({PT_WORDS})\\b')) AS pt_hits,
       len(regexp_extract_all(text, '(?i)\\b({EN_WORDS})\\b')) AS en_hits,
       CASE WHEN len(regexp_extract_all(text, '(?i)\\b({PT_WORDS})\\b')) = 0
                 AND len(regexp_extract_all(text, '(?i)\\b({EN_WORDS})\\b')) = 0
            THEN 'und'
            WHEN len(regexp_extract_all(text, '(?i)\\b({PT_WORDS})\\b'))
                 >= len(regexp_extract_all(text, '(?i)\\b({EN_WORDS})\\b'))
            THEN 'pt' ELSE 'en' END AS lang_pred
FROM documents
""")
def text_lang_id(spark, sf_dir):
    from .ops.textstats import lang_id

    return lang_id(T(spark, sf_dir, "documents")).select(
        "doc_id", "pt_hits", "en_hits", "lang_pred")


@q("text_quality", f"""
WITH ratios AS (
  SELECT doc_id,
       ROUND(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
             / GREATEST(length(text), 1), 6) AS punct_ratio,
       ROUND(length(regexp_replace(text, '[^0-9]', '', 'g'))
             / GREATEST(length(text), 1), 6) AS digit_ratio,
       ROUND(length(text)
             / GREATEST(CASE WHEN trim(text) = '' THEN 0
                        ELSE length(regexp_split_to_array(trim(text), '\\s+'))
                        END, 1), 6) AS mean_word_len
  FROM documents
), f AS (
  SELECT doc_id,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+'))
    END AS n_tokens,
    ROUND(len(regexp_extract_all(text, '(?i)\\b({PT_WORDS_FULL}|{EN_WORDS_FULL})\\b'))
          / GREATEST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                     END, 1), 6) AS stopword_ratio,
    ROUND(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
          / GREATEST(length(text), 1), 6) AS punct_ratio,
    ROUND(length(regexp_replace(text, '[^0-9]', '', 'g'))
          / GREATEST(length(text), 1), 6) AS digit_ratio
  FROM documents)
SELECT 'ratios' AS src, doc_id, punct_ratio AS m1, digit_ratio AS m2,
       mean_word_len AS m3
FROM ratios
UNION ALL
SELECT 'composite', doc_id, CAST(n_tokens AS DOUBLE), stopword_ratio,
  ROUND(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
    GREATEST(0.0, LEAST(1.0,
      0.4 * LEAST(stopword_ratio * 4, 1.0)
      + 0.3 * (1 - LEAST(digit_ratio * 5, 1.0))
      + 0.3 * (1 - LEAST(punct_ratio * 5, 1.0)))) END, 6)
FROM f
""")
def text_quality(spark, sf_dir):
    """Quality metrics, merged pair (registry capped at 50), both
    branches read off one `quality_features` call: branch 'ratios' =
    the rounded punct/digit/mean-word-length ratios; branch
    'composite' = token count, the stopword ratio over the complete
    PT+EN lists and the composite [0,1] score. Every original value
    stays independently hash-checked under generic m1–m3 names."""
    from .ops.textstats import quality_features

    feat = quality_features(T(spark, sf_dir, "documents"))
    ratios = feat.select(
        F.lit("ratios").alias("src"),
        "doc_id",
        F.col("punct_ratio").alias("m1"),
        F.col("digit_ratio").alias("m2"),
        F.col("mean_word_len").alias("m3"),
    )
    comp = feat.select(
        F.lit("composite").alias("src"),
        "doc_id",
        F.col("n_tokens").cast("double").alias("m1"),
        F.col("stopword_ratio").alias("m2"),
        F.col("quality_score").alias("m3"),
    )
    return ratios.unionByName(comp)


@q("pdf_parse_pages", """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
), li AS (
  SELECT doc_id, ws,
         unnest(generate_series(0, CAST((len(ws) - 1) // 12 AS INT))) AS k
  FROM w
), lines AS (
  SELECT doc_id, k,
         array_to_string(list_slice(ws, k * 12 + 1, k * 12 + 12), ' ') AS line
  FROM li
)
SELECT doc_id, CAST(k // 4 AS INT) AS page_idx,
       string_agg(line, chr(10) ORDER BY k) AS text,
       CAST(COUNT(*) AS INT) AS n_lines
FROM lines GROUP BY 1, 2
""")
def pdf_parse_pages(spark, sf_dir):
    """The byte-stream tier round trip: render each document's text as
    a real PDF (datagen.gen_pdf_bytes — xref table, content streams,
    per-doc variants: FlateDecode, TJ arrays, hex strings, Tm vs
    Td/T*, split /Contents, /Differences encodings) and parse it back
    with the from-scratch object-stream parser (ops/pdfstream). The
    oracle never touches PDF bytes: it recomputes the wrap/pagination
    rule (12 words/line, 4 lines/page) directly from documents.text,
    so the extracted text must be byte-identical per (doc, page)
    across every representation variant."""
    from .datagen import pdfs_from_documents
    from .ops.pdfstream import parse_pdf_pages

    d = T(spark, sf_dir, "documents")
    return parse_pdf_pages(pdfs_from_documents(d)).select(
        "doc_id", "page_idx", "text", "n_lines")


@q("text_fingerprint", """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS exact_fp
FROM documents
""")
def text_fingerprint(spark, sf_dir):
    from .ops.textstats import fingerprint

    return fingerprint(T(spark, sf_dir, "documents")).select(
        "doc_id", "exact_fp")


@q("sim_cosine_topk", """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
     c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
     scored AS (
       SELECT q.query_id, c.neighbor_id,
              ROUND(list_dot_product(q.qv, c.v)
                    / (sqrt(list_dot_product(q.qv, q.qv))
                       * sqrt(list_dot_product(c.v, c.v))), 9) AS cos
       FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id)
SELECT query_id, neighbor_id, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 10
""")
def sim_cosine_topk(spark, sf_dir):
    from .ops.layout import rebalance_narrow
    from .ops.similarity import cosine

    emb = T(spark, sf_dir, "embeddings")
    q_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    # the corpus side carries the broadcast-NL dot products — rebalance
    # the single-row-group scan so the scoring runs at full width
    c_df = rebalance_narrow(emb).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("v"))
    scored = (
        c_df.crossJoin(F.broadcast(q_df))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("v")), 9))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .select("query_id", "neighbor_id", "rank"))


# ---------------------------------------------------------------------------
# Engine pipelines + non-SQL-expressible ops.
#
# These queries have no direct SQL formulation (layout kernels, LSH,
# hyperplane ANN), so their oracles are GOLDEN PARQUET files computed by
# the pure-Python golden oracle (`golden_oracle.py` — oracle_ref
# extraction semantics + a from-spec xxHash64 + IEEE-double folds, no
# Spark involved) and regenerated by `tools/make_goldens.py`. The
# DuckDB side just reads them; `tests/test_goldens.py` cross-checks the
# generator against the live queries at sf0.001, and the driver gate at
# sf0.01 fails loudly if the goldens go stale.
# ---------------------------------------------------------------------------

# Derived from the package location so the repo works from any
# checkout path. The goldens are generated AT sf0.01 — the driver gate
# runs at sf0.01 so they are valid there; _golden_sql-backed queries at
# other scale factors would compare against the wrong corpus, hence the
# explicit name suffix and the note in each query's docstring.
GOLDEN_DIR = str(Path(__file__).resolve().parent.parent / "goldens" / "sf0_01")


def _golden_sql(name: str) -> str:
    return f"SELECT * FROM read_parquet('{GOLDEN_DIR}/{name}.parquet')"


# (start, end) months of the extraction goldens' series
_SERIES_RANGE = ((2019, 1), (2021, 12))


def _corpus_docs_for(sf_dir: str) -> int:
    if "0.1" in sf_dir and "0.01" not in sf_dir and "0.001" not in sf_dir:
        return 800
    if "0.01" in sf_dir and "0.001" not in sf_dir:
        return 200
    return 60


def _pages_docpass(spark, sf_dir):
    """The extraction job's document pass (``docpass.extract``) over the
    synthetic pages corpus, series over the goldens' month range."""
    from .datagen import corpus_df
    from .docpass import extract

    return extract(corpus_df(spark, _corpus_docs_for(sf_dir)), *_SERIES_RANGE)


@q("extract_e2_proventos", _golden_sql("extract_e2_proventos"))
def extract_e2_proventos(spark, sf_dir):
    """Flagship Engine-2 pipeline: synthetic ficha corpus → vacation-
    adjusted, zero-filled, byte-format PROVENTOS series per url."""
    from .docpass import series_long
    from .engine2 import pipeline as e2

    return e2.series_table(series_long(_pages_docpass(spark, sf_dir)),
                           "3123-Base")


@q("extract_e1_values", _golden_sql("extract_e1_values"))
def extract_e1_values(spark, sf_dir):
    """Engine-1 pipeline: synthetic folha corpus → per-period rule values."""
    from .docpass import e1_long
    from .engine1 import pipeline as e1

    values, _, _ = e1.split_long(e1_long(_pages_docpass(spark, sf_dir)))
    return values.select(
        "url", "folha_type", "year", "month", "excel_col",
        F.col("value")["num"].alias("value_num"),
        F.col("value")["txt"].alias("value_txt"),
    )


@q("extract_e1_person_names", _golden_sql("extract_e1_person_names"))
def extract_e1_person_names(spark, sf_dir):
    """F7/F8 person-name extraction over the synthetic folha corpus."""
    from .datagen import corpus_df
    from .engine1.names import person_name_e1

    pages = corpus_df(spark, _corpus_docs_for(sf_dir))
    return person_name_e1(
        pages.filter(F.col("url").startswith("synth://folha")))


@q("extract_audit_metrics", _golden_sql("extract_audit_metrics"))
def extract_audit_metrics(spark, sf_dir):
    """Per-document lineage metrics (audit-table feed, both engines)."""
    from .docpass import e2_long
    from .engine2 import pipeline as e2
    from .sinks.audit import build_audit

    # the metrics row does not read A6, which the pass applies
    met = e2.metrics_table(e2_long(_pages_docpass(spark, sf_dir)))
    # partition_id/audit_ts are lineage columns, legitimately
    # run-dependent — dropped here so the check pins the deterministic
    # metric values (partition_summary keeps the lineage view)
    return build_audit(met, run_id="driver-check").drop(
        "audit_ts", "partition_id")


@q("dedup_minhash_lsh", _golden_sql("dedup_minhash_lsh"))
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs over documents + planted copies."""
    from .ops.dedup import minhash_lsh_pairs

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    aug = d.unionByName(
        d.filter(F.col("doc_id") < 5)
        .withColumn("doc_id", F.col("doc_id") + 1000000))
    pairs = minhash_lsh_pairs(aug, threshold=0.8)
    return pairs.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


@q("dedup_simhash", _golden_sql("dedup_simhash"))
def dedup_simhash(spark, sf_dir):
    from .ops.dedup import simhash_pairs

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    aug = d.unionByName(
        d.filter(F.col("doc_id") < 5)
        .withColumn("doc_id", F.col("doc_id") + 1000000))
    return simhash_pairs(aug, max_hamming=3)


@q("sim_lsh_topk", _golden_sql("sim_lsh_topk"))
def sim_lsh_topk(spark, sf_dir):
    from .ops.similarity import lsh_topk

    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    return lsh_topk(emb, queries, k=10, n_tables=16, n_planes=4,
                    dim=64).select("query_id", "neighbor_id", "rank")


@q("dedup_ngram_jaccard", _golden_sql("dedup_ngram_jaccard"))
def dedup_ngram_jaccard(spark, sf_dir):
    """n-gram (k=3) Jaccard near-dup pairs: inverted-index candidate
    generation over rare shingles, exact full-set verification."""
    from .ops.dedup import ngram_jaccard_pairs

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    aug = d.unionByName(
        d.filter(F.col("doc_id") < 5)
        .withColumn("doc_id", F.col("doc_id") + 1000000))
    pairs = ngram_jaccard_pairs(aug, k=3, threshold=0.5)
    return pairs.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


@q("sim_embedding_neardup", _golden_sql("sim_embedding_neardup"))
def sim_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via one hyperplane bucket table
    + exact cosine verify (planted exact copies at vec_id+1e6)."""
    from .ops.similarity import embedding_near_duplicates

    emb = T(spark, sf_dir, "embeddings")
    aug = emb.unionByName(
        emb.filter(F.col("vec_id") < 5)
        .withColumn("vec_id", F.col("vec_id") + 1000000))
    pairs = embedding_near_duplicates(aug, threshold=0.95, n_planes=12,
                                      dim=64)
    return pairs.select("a", "b", F.round("cos", 6).alias("cos"))


@q("sim_ivf_topk", _golden_sql("sim_ivf_topk"))
def sim_ivf_topk(spark, sf_dir):
    """IVF ANN with deterministic data-derived coarse centroids (the
    first 16 corpus vectors, one small collect = the offline training
    step; KMeans-quality centroids are `fit_ivf_centroids`, covered by
    the pytest recall tests). The driver-checked part is the
    assign/probe/re-score dataflow itself."""
    import numpy as np

    from .ops.similarity import ivf_topk

    emb = T(spark, sf_dir, "embeddings")
    cent = (emb.filter(F.col("vec_id") < 16).orderBy("vec_id")
            .select("embedding").collect())
    centroids = np.array([r[0] for r in cent], dtype=np.float64)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"))
    out = ivf_topk(emb, queries, centroids, k=10, nprobe=4)
    return out.select("query_id", "neighbor_id", "rank",
                      F.round("cos", 6).alias("cos"))


_F10_PLANTED = [
    ("synth://planted/0", "JOÃO DA SILVA"),
    ("synth://planted/1", "MARIA JOSÉ D'ÁVILA"),
    ("synth://planted/2", "ANTÔNIO ÇÜÑIGA PEÑA"),
    ("synth://planted/3", 'BAD<>:"/\\|?*NAME  MULTI   SPACE'),
    ("synth://planted/4", "???"),
]


def _f10_sql() -> str:
    vals = ", ".join(
        "('{}', '{}')".format(u, n.replace("'", "''"))
        for u, n in _F10_PLANTED)
    return f"""
WITH names AS (
  SELECT url, person_name
  FROM read_parquet('{GOLDEN_DIR}/extract_e1_person_names.parquet')
  UNION ALL SELECT * FROM (VALUES {vals}) v(url, person_name)
)
SELECT url,
  CASE WHEN s = '' THEN 'resultado' ELSE s END AS file_slug,
  (CASE WHEN s = '' THEN 'resultado' ELSE s END)
    || '_01012020_0000' AS folder_slug,
  rtrim(left(trim(regexp_replace(regexp_replace(regexp_replace(
    person_name, '[<>:"/\\\\|?*]', '', 'g'),
    '[\\x00-\\x1f\\x7f]', '', 'g'), '\\s+', ' ', 'g')), 100))
    AS filename_norm
FROM (SELECT url, person_name,
        regexp_replace(replace(strip_accents(person_name), ' ', '_'),
                       '[^A-Za-z0-9_-]', '', 'g') AS s
      FROM names)
"""


@q("f10_filename_slugs", _f10_sql())
def f10_filename_slugs(spark, sf_dir):
    """F10 filename-slug projections over the extracted E1 person
    names + planted accent/special-char controls, with the reference's
    datetime.now() timestamp injected as a constant."""
    from .datagen import corpus_df
    from .engine1.names import person_name_e1
    from .functions.slug import slug_table

    pages = corpus_df(spark, _corpus_docs_for(sf_dir))
    names = person_name_e1(
        pages.filter(F.col("url").startswith("synth://folha")))
    from .ops.layout import dim_df

    # honest-stats literal rows (see ops.layout.dim_df) so the union's
    # size estimate stays the corpus's, not Long.Max
    planted = dim_df(spark, _F10_PLANTED, "url string, person_name string")
    return slug_table(names.unionByName(planted), "01012020_0000") \
        .select("url", "file_slug", "folder_slug", "filename_norm")


def _curate_ctes() -> str:
    # shared CTE prefix (planted corpus + per-doc features) for the
    # curate_corpus and curate_stage_counts oracles
    return f"""
WITH planted AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 3
  UNION ALL SELECT doc_id + 2000000, text || ' perturbedcopy'
            FROM documents WHERE doc_id < 3
  UNION ALL SELECT 3000000 AS doc_id, '1 2 3' AS text
  UNION ALL SELECT 3000001, '1 2 3 4 5 6'
), feat AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+'))
         END AS n_tokens,
         length(regexp_replace(text, '[^0-9]', '', 'g'))
           / GREATEST(length(text), 1) AS digit_ratio,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
           / GREATEST(length(text), 1) AS punct_ratio,
         len(regexp_extract_all(text, '(?i)\\b({PT_WORDS})\\b')) AS pt,
         len(regexp_extract_all(text, '(?i)\\b({EN_WORDS})\\b')) AS en,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
  FROM planted
)"""


def _curate_stages_sql(source_sql: str, pairs_parquet: str) -> str:
    # the quality → language → exact-dedup → near-dup stage chain over
    # an arbitrary (doc_id, text) source; MinHash pair sets
    # (non-SQL-expressible) are fed from pure-Python golden parquet
    return f"""
WITH src AS ({source_sql}), feat AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+'))
         END AS n_tokens,
         length(regexp_replace(text, '[^0-9]', '', 'g'))
           / GREATEST(length(text), 1) AS digit_ratio,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
           / GREATEST(length(text), 1) AS punct_ratio,
         len(regexp_extract_all(text, '(?i)\\b({PT_WORDS})\\b')) AS pt,
         len(regexp_extract_all(text, '(?i)\\b({EN_WORDS})\\b')) AS en,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
  FROM src
), gated AS (
  SELECT *, CASE WHEN pt = 0 AND en = 0 THEN 'und'
                 WHEN pt >= en THEN 'pt' ELSE 'en' END AS lang_pred
  FROM feat
  WHERE n_tokens >= 5 AND digit_ratio <= 0.2 AND punct_ratio <= 0.3
), langk AS (SELECT * FROM gated WHERE lang_pred IN ('pt', 'en')),
exact_kept AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM langk) WHERE rn = 1
)
SELECT doc_id, lang_pred, n_tokens FROM exact_kept
WHERE doc_id NOT IN (
  SELECT b FROM read_parquet('{GOLDEN_DIR}/{pairs_parquet}'))
"""


def _curate_sql() -> str:
    # merged pair (registry capped at 50): branch 'direct' = the
    # planted-corpus curation; branch 'web' = the composed web tier —
    # HTML wrap → boilerplate strip → the same curation stages over
    # extracted main text (main texts from the extract_main_content
    # golden parquet, its own row already pins them against Spark).
    planted_sql = """
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 3
  UNION ALL SELECT doc_id + 2000000, text || ' perturbedcopy'
            FROM documents WHERE doc_id < 3
  UNION ALL SELECT 3000000 AS doc_id, '1 2 3' AS text
  UNION ALL SELECT 3000001, '1 2 3 4 5 6'
"""
    web_sql = (f"SELECT doc_id, main_text AS text FROM read_parquet("
               f"'{GOLDEN_DIR}/extract_main_content.parquet')")
    direct = _curate_stages_sql(planted_sql, "curate_neardup_pairs.parquet")
    web = _curate_stages_sql(web_sql, "web_neardup_pairs.parquet")
    return (f"SELECT 'direct' AS src, * FROM ({direct})\n"
            f"UNION ALL SELECT 'web' AS src, * FROM ({web})")


def _curate_stage_sql() -> str:
    # same planted corpus + golden pair table; mirrors
    # curation_stage_counts's first-failing-stage attribution
    return _curate_ctes() + f""",
flags AS (
  SELECT doc_id, h,
         (n_tokens >= 5 AND digit_ratio <= 0.2 AND punct_ratio <= 0.3)
           AS quality_ok,
         (CASE WHEN pt = 0 AND en = 0 THEN 'und'
               WHEN pt >= en THEN 'pt' ELSE 'en' END) IN ('pt', 'en')
           AS lang_ok
  FROM feat
), pos AS (
  SELECT *, SUM(CASE WHEN quality_ok AND lang_ok THEN 1 ELSE 0 END)
              OVER (PARTITION BY h ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS q_pos
  FROM flags
)
SELECT stage, COUNT(*) AS n_docs FROM (
  SELECT CASE
           WHEN NOT quality_ok THEN 'quality'
           WHEN NOT lang_ok THEN 'language'
           WHEN q_pos > 1 THEN 'exact_dup'
           WHEN doc_id IN (SELECT b FROM read_parquet(
               '{GOLDEN_DIR}/curate_neardup_pairs.parquet'))
             THEN 'near_dup'
           ELSE 'kept' END AS stage
  FROM pos) GROUP BY stage
"""


def _planted_curation_corpus(spark, sf_dir):
    """documents + planted controls (exact copies at +1e6, one-token-
    perturbed near-dups at +2e6, low-quality docs at +3e6 — each
    exercising exactly one curation stage)."""
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    copies = (d.filter(F.col("doc_id") < 3)
              .withColumn("doc_id", F.col("doc_id") + 1000000))
    perturbed = (d.filter(F.col("doc_id") < 3)
                 .withColumn("doc_id", F.col("doc_id") + 2000000)
                 .withColumn("text",
                             F.concat("text", F.lit(" perturbedcopy"))))
    from .ops.layout import dim_df

    # dim_df, NOT createDataFrame: a LocalRelation branch reports
    # sizeInBytes=Long.Max, which poisons the union's estimate and
    # silently turned off rebalance_narrow AND the broadcast verify
    # joins for this whole corpus (see ops.layout.dim_df)
    lowq = dim_df(
        spark, [(3000000, "1 2 3"), (3000001, "1 2 3 4 5 6")],
        "doc_id long, text string")
    from .ops.layout import rebalance_narrow

    # single-row-group testdata: rebalance once here so every consumer
    # (gate regexes, shingle explodes) runs at full width; shingle_rows'
    # own guard sees the Repartition node and does not re-shuffle
    return rebalance_narrow(
        d.unionByName(copies).unionByName(perturbed).unionByName(lowq))


@q("curate_corpus", _curate_sql())
def curate_corpus_pipeline(spark, sf_dir):
    """Flagship training-data curation composition, two branches in one
    driver row (pair-merge pattern, registry capped at 50):

    * src='direct' — quality gate → language filter → exact dedup →
      MinHash near-dup removal over the planted curation corpus.
    * src='web' — the composed web tier: HTML page → boilerplate strip
      (`ops.boilerplate`) → the SAME curation stages over extracted
      main text, near-dup pairs computed on main text. One lazy plan:
      scan → mapInPandas flatten → codegen gates → dedup exchanges.
    """
    from .ops.curate import curate_corpus, extract_main_text
    from .ops.dedup import minhash_lsh_pairs

    planted = _planted_curation_corpus(spark, sf_dir)
    pairs = minhash_lsh_pairs(planted, threshold=0.8)
    direct = curate_corpus(planted, near_dup_pairs=pairs)

    pages = T(spark, sf_dir, "documents").select(
        "doc_id", _wrap_html_col(F.col("doc_id"), F.col("text"))
        .alias("html_text"))
    # one exchange above the Python flatten: both consumers (gate
    # features and the near-dup shingle pass) read the SAME
    # materialized stage via AQE reuse instead of re-running the
    # mapInPandas flatten per branch
    from .ops.layout import rebalance_narrow

    web_text = rebalance_narrow(extract_main_text(pages))
    web_pairs = minhash_lsh_pairs(web_text, threshold=0.8)
    web = curate_corpus(web_text, near_dup_pairs=web_pairs)

    return (direct.withColumn("src", F.lit("direct"))
            .unionByName(web.withColumn("src", F.lit("web")))
            .select("src", "doc_id", "lang_pred", "n_tokens"))


@q("curate_stage_counts", _curate_stage_sql())
def curate_stage_counts(spark, sf_dir):
    """Per-stage drop accounting for the flagship curation pipeline:
    (stage, n_docs) where stage is each document's first failing gate
    — quality / language / exact_dup / near_dup / kept. Counts sum to
    the planted-corpus size and `kept` matches `curate_corpus`'s row
    count (pinned in tests)."""
    from .ops.curate import curation_stage_counts
    from .ops.dedup import minhash_lsh_pairs

    planted = _planted_curation_corpus(spark, sf_dir)
    pairs = minhash_lsh_pairs(planted, threshold=0.8)
    return curation_stage_counts(planted, near_dup_pairs=pairs)


@q("sample_mixture", """
WITH rates AS (
  SELECT 'src' || CAST(i AS VARCHAR) AS source, (i % 5) * 0.25 AS rate
  FROM (SELECT unnest(generate_series(0, 19)) AS i)
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r USING (source)
WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|v1'), 1, 8))
           AS UBIGINT)
      < r.rate * 4294967296.0
""")
def sample_mixture(spark, sf_dir):
    """Deterministic mixture sampling: per-source keep-rates decided by
    a content-hash threshold (reproducible at any partitioning; rate
    changes are monotone — raising a rate only adds rows)."""
    from .ops.curate import deterministic_sample

    from .ops.layout import dim_df

    d = T(spark, sf_dir, "documents")
    # honest-stats literal dim (ops.layout.dim_df): createDataFrame's
    # Long.Max estimate kept the optimizer from broadcasting this
    # 20-row dimension into the sample join
    rates = dim_df(
        spark, [(f"src{i}", (i % 5) * 0.25) for i in range(20)],
        "source string, rate double")
    return deterministic_sample(d, rates, salt="v1").select(
        "doc_id", "source")


@q("pack_sequences", """
WITH t AS (
  SELECT doc_id,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+'))
    END AS n_tokens
  FROM documents
), placed AS (
  SELECT doc_id, n_tokens,
    -- CAST: DuckDB SUM(BIGINT) yields HUGEINT (→ float64 in pandas),
    -- which value-hashes differently from Spark's int64 even when the
    -- values are identical (r02's only red row).
    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS "offset"
  FROM t
)
SELECT doc_id, n_tokens, "offset",
  CAST(FLOOR("offset" / 2048.0) AS BIGINT) AS start_seq,
  CAST(FLOOR(("offset" + GREATEST(n_tokens, 1) - 1) / 2048.0) AS BIGINT)
    AS end_seq
FROM placed
""")
def pack_sequences(spark, sf_dir):
    """Concat-and-chunk packing plan (seq_len=2048) via the
    distributed prefix sum; the oracle is the naive single-window
    formulation, which is exactly what the op must equal."""
    from .ops.packing import packing_plan

    d = T(spark, sf_dir, "documents")
    return packing_plan(d, seq_len=2048, bucket=64)


@q("text_repetition", """
WITH nrm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents
), w AS (
  SELECT doc_id, string_split(t, ' ') AS words, len(string_split(t, ' ')) AS n
  FROM nrm
), wx AS (
  SELECT doc_id, unnest(words) AS word FROM w
), top AS (
  SELECT doc_id, MAX(c) AS top_n FROM (
    SELECT doc_id, word, COUNT(*) AS c FROM wx GROUP BY 1, 2)
  GROUP BY 1
)
SELECT w.doc_id,
  ROUND(1.0 - len(list_distinct(words)) / GREATEST(n, 1), 6)
    AS dup_word_frac,
  ROUND(top.top_n / GREATEST(n, 1), 6) AS top_word_frac,
  CASE WHEN n >= 2 THEN
    ROUND(1.0 - len(list_distinct(
      list_transform(range(1, n), i -> words[i] || ' ' || words[i + 1])))
      / (n - 1), 6)
  ELSE 0.0 END AS dup_bigram_frac
FROM w JOIN top USING (doc_id)
""")
def text_repetition(spark, sf_dir):
    """Gopher-style within-document repetition signals (duplicate-word
    / top-word / duplicate-bigram fractions)."""
    from .ops.textstats import repetition_features

    d = T(spark, sf_dir, "documents")
    return repetition_features(d).select(
        "doc_id", "dup_word_frac", "top_word_frac", "dup_bigram_frac")


@q("decontaminate_13gram", """
WITH nrm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents
), corpus AS (
  SELECT doc_id, t FROM nrm
  UNION ALL
  SELECT 4000000 AS doc_id,
         'prefix alpha beta '
         || array_to_string(list_slice(string_split(t, ' '), 1, 13), ' ')
         || ' suffix' AS t
  FROM nrm WHERE doc_id = 0
), ev AS (
  SELECT doc_id AS eval_id, string_split(t, ' ') AS words
  FROM nrm WHERE doc_id < 3
), ei AS (
  SELECT eval_id, words,
         unnest(generate_series(1, GREATEST(len(words) - 12, 1))) AS i
  FROM ev
), esh AS (
  SELECT DISTINCT eval_id,
         array_to_string(list_slice(words, i, i + 12), ' ') AS shingle
  FROM ei
), cw AS (
  SELECT doc_id, string_split(t, ' ') AS words FROM corpus
), ci AS (
  SELECT doc_id, words,
         unnest(generate_series(1, GREATEST(len(words) - 12, 1))) AS i
  FROM cw
), csh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(words, i, i + 12), ' ') AS shingle
  FROM ci
)
SELECT c.doc_id, e.eval_id, COUNT(*) AS n_collisions
FROM csh c JOIN esh e USING (shingle)
GROUP BY 1, 2
""")
def decontaminate_13gram(spark, sf_dir):
    """Benchmark decontamination: 13-gram collisions between the
    corpus (+ one planted doc embedding an eval 13-gram) and a
    stand-in eval set (the first three documents). The eval docs'
    corpus copies flag themselves; the planted doc flags eval 0."""
    from .ops.dedup import contamination_flags, normalize_text

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") == 0).select(
        F.lit(4000000).cast("long").alias("doc_id"),
        F.concat(
            F.lit("prefix alpha beta "),
            F.array_join(
                F.slice(F.split(normalize_text(F.col("text")), " "), 1, 13),
                " "),
            F.lit(" suffix")).alias("text"))
    corpus = d.unionByName(planted)
    ev = d.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("eval_id"), "text")
    return contamination_flags(corpus, ev, eval_id_col="eval_id", k=13)


@q("multimodal", f"""
SELECT 'features' AS src, doc_id, media_type, n_bytes, feature_fp,
       decode_ok, CAST(NULL AS BIGINT) AS frame_ts_ms
FROM read_parquet('{GOLDEN_DIR}/multimodal_features.parquet')
UNION ALL
SELECT 'frames' AS src, doc_id, CAST(NULL AS VARCHAR) AS media_type,
       CAST(NULL AS BIGINT) AS n_bytes,
       CAST(NULL AS VARCHAR) AS feature_fp,
       CAST(NULL AS BOOLEAN) AS decode_ok, frame_ts_ms
FROM (
  WITH media AS (
    SELECT doc_id,
           ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1]
             AS media_type,
           (doc_id * 1299709 + 19) % 600000 + 1 AS duration_ms
    FROM documents
  )
  SELECT doc_id,
         unnest(generate_series(0, duration_ms, 1000)) AS frame_ts_ms
  FROM media WHERE media_type = 'video'
)
""")
def multimodal(spark, sf_dir):
    """Multimodal tier as one driver row (branch-tagged union, same
    pattern as text_quality — both halves stay hash-checked):
    `features` = the decode/feature kernel over binary media columns
    (golden-parquet oracle), `frames` = the video frame-sampling
    fan-out that precedes the decode kernel (SQL oracle). `feature
    array<float>` itself is not driver-canonicalizable — the md5
    fingerprint stands in; the raw array is covered by
    tests/test_ops.py."""
    from .ops.multimodal import (extract_features, frame_sample_plan,
                                 synth_media_table)

    d = T(spark, sf_dir, "documents")
    media = synth_media_table(spark, d)
    feats = extract_features(media, dim=16).select(
        F.lit("features").alias("src"),
        "doc_id", "media_type", "n_bytes", "feature_fp", "decode_ok",
        F.lit(None).cast("bigint").alias("frame_ts_ms"))
    frames = frame_sample_plan(media, every_ms=1000).select(
        F.lit("frames").alias("src"),
        "doc_id",
        F.lit(None).cast("string").alias("media_type"),
        F.lit(None).cast("bigint").alias("n_bytes"),
        F.lit(None).cast("string").alias("feature_fp"),
        F.lit(None).cast("boolean").alias("decode_ok"),
        F.col("frame_ts_ms").cast("bigint").alias("frame_ts_ms"))
    return feats.unionByName(frames)


def _wrap_html_col(doc_id_col, text_col):
    """Deterministic synthetic web page per document — MUST stay in
    lock-step with `golden_oracle.wrap_html` (same literals, same
    `<`/`&` sanitization via translate). coalesce matches wrap_html's
    `text or ""` — a NULL text must still yield a full page, not a
    NULL concat."""
    t = F.translate(F.coalesce(text_col, F.lit("")), "<&", "(+")
    return F.concat(
        F.lit('<html><head><title>doc</title></head><body>'),
        F.lit('<nav><a href="/">Home</a> <a href="/about">About</a>'
              ' <a href="/contact">Contact</a></nav>'),
        F.lit('<div class="ad"><a href="x">Buy now</a>'
              ' <a href="y">Click here</a> cheap deals</div>'),
        F.lit('<article><p>'), t, F.lit('</p></article>'),
        F.when(doc_id_col % 3 == 0,
               F.lit('<aside>related <a href="z">links</a>'
                     ' everywhere</aside>')).otherwise(F.lit("")),
        F.lit('<footer>copyright 2026 <a href="/p">Privacy</a>'
              '</footer></body></html>'),
    )


@q("extract_main_content", _golden_sql("extract_main_content"))
def extract_main_content_q(spark, sf_dir):
    """HTML boilerplate strip — the north rule's web-page tier stated
    directly: flatten each page into a node array (Arrow-batched
    byte-stream tokenizer, `ops/boilerplate.py`), score text/link
    density + tag depth JVM-side, keep content blocks, emit extracted
    text plus character-span offsets per document. Oracle: independent
    html.parser-based pure-Python twin (golden parquet; pinned against
    this query at sf0.001 in tests/test_goldens.py). `spans_fp` is
    md5(to_json(spans)) because the driver canonicalizer cannot sort
    struct arrays."""
    from .ops.boilerplate import extract_main_content
    from .ops.layout import rebalance_narrow

    d = rebalance_narrow(T(spark, sf_dir, "documents"))
    pages = d.select(
        "doc_id", _wrap_html_col(F.col("doc_id"), F.col("text"))
        .alias("html_text"))
    out = extract_main_content(pages)
    return out.select(
        "doc_id", "main_text",
        F.md5(F.to_json("spans")).alias("spans_fp"),
        "n_nodes", "n_kept")


@q("pdf_extract_e2", _golden_sql("extract_e2_proventos"))
def pdf_extract_e2(spark, sf_dir):
    """The reference's HEADLINE query from real bytes: ficha documents
    rendered as positioned-text PDFs (datagen.gen_e2_pdf_bytes,
    shuffled word emission order) → from-scratch parse to word boxes
    (font /Widths + /FontDescriptor metrics → extract_words tuples,
    ops/pdfstream.layout_row inside the job's document pass) → the
    full Engine-2 layout kernel → vacation-adjusted zero-filled
    PROVENTOS series.

    The oracle is deliberately THE SAME golden parquet as
    `extract_e2_proventos`: the PDF-bytes path must reproduce the
    WBX2 path's output hash byte-for-byte."""
    from .datagen import e2_pdf_corpus_df
    from .docpass import extract, series_long
    from .engine2 import pipeline as e2

    pdfs = e2_pdf_corpus_df(spark, _corpus_docs_for(sf_dir))
    long_df = extract(pdfs, *_SERIES_RANGE, pdf_col="pdf")
    return e2.series_table(series_long(long_df), "3123-Base")
