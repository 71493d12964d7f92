"""Standard analytics surface (SURVEY §2.E/F/G/H + §7.1 M5).

The reference has almost no numeric aggregation (SURVEY §2.E: "no sum/avg/
min/max ... the engine gets these for free from Spark"); this module is the
credible-engine surface: groupBy aggregates, multi-way joins, windows with
frames, rollup/cube, top-k, intersect/except — all Catalyst builtins.

Oracle-parity rules used throughout (SURVEY §5.2):
- double sums are order-dependent across engines → aggregate decimals
  (exact, associative) and cast the result to double
- averages = decimal-sum / count, rounded to 6 places in both engines
- every output is deterministic under ties (explicit tie-break keys)

Scale notes: joins to region/nation/supplier/customer dims are broadcast
(dimension tables are tiny even at 100 TB fact scale); aggregations get
map-side partial aggregation automatically; windows partition on
high-cardinality keys (custkey/user_id) so no single-partition sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import load_table


def _dsum(c, alias):
    """Order-independent sum: decimal-aggregate, emit double."""
    return F.sum(F.col(c).cast("decimal(18,2)")).cast("double").alias(alias)


# ------------------------------------------------- E: pricing summary (Q1)

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=True (default): the partial HashAggregate runs in the SCAN
    # stage, before any exchange — on a single-row-group file that means
    # all the decimal products run on one core unless the scan is spread.
    li = load_table(spark, sf_dir, "lineitem")
    # decimal-FIRST arithmetic: the raw doubles are exact 2-dp values, so
    # the casts are exact and all products stay exact — double products
    # cast to decimal would tie-round differently across engines
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)")
    tax = F.lit(1).cast("decimal(3,2)") + F.col("l_tax").cast("decimal(4,2)")
    disc_price = ep * disc
    charge = ep * disc * tax
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity", "sum_qty"),
            _dsum("l_extendedprice", "sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(4,2)))
           * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ------------------------------------- E: revenue by nation (multiway join)

def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way join: fact lineitem ⨝ orders ⨝ broadcast(customer ⨝ nation)."""
    li = load_table(spark, sf_dir, "lineitem", spread=False)
    o = load_table(spark, sf_dir, "orders", spread=False)
    c = load_table(spark, sf_dir, "customer", spread=False)
    n = load_table(spark, sf_dir, "nation", spread=False)
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    cn = F.broadcast(c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey))
    return (
        # shuffle_hash: orders fits a per-partition hash map; skips the
        # sort-merge sort of the (much larger) lineitem side
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        .join(cn, o.o_custkey == cn.c_custkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"),
             F.countDistinct("o_orderkey").alias("n_orders"))
        .orderBy("n_name")
    )


REVENUE_BY_NATION_SQL = """
SELECT n_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
  count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


# ---------------------------------------------------- G: top-k customers

def top_customers(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    # spread=False DESPITE being agg-first — the documented exception to
    # load_table's rule: the partial aggregate here is a plain decimal sum
    # + count over columns already in scan order (no regex/tokenize/hash,
    # no multi-term decimal products like e1's), so single-core map-side
    # work is trivially cheap and the spread exchange buys nothing
    # (spread=False is g1's in-repo best at 0.31 s; e1's regression came
    # from its per-row decimal arithmetic, absent here).
    o = load_table(spark, sf_dir, "orders", spread=False)
    c = load_table(spark, sf_dir, "customer", spread=False)
    return (
        o.groupBy("o_custkey")
        .agg(_dsum("o_totalprice", "total_spent"), F.count(F.lit(1)).alias("n_orders"))
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .select("c_custkey", "c_name", "total_spent", "n_orders")
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(k)
    )


TOP_CUSTOMERS_SQL = """
SELECT c_custkey, c_name,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
  count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spent DESC, c_custkey
LIMIT 10
"""


# --------------------------------------- F: windows (running / rank / lag)

def running_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders", spread=False)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


RUNNING_ORDER_TOTAL_SQL = """
SELECT o_custkey, o_orderkey,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
"""


def order_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders", spread=False)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


ORDER_RANKS_SQL = """
SELECT o_custkey, o_orderkey,
  row_number() OVER w AS rn, rank() OVER w AS rnk, dense_rank() OVER w AS drnk
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
"""


def event_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", spread=False)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.round(
            F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w), 6
        ).alias("secs_since_prev"),
    )


EVENT_LAG_LEAD_SQL = """
SELECT user_id, event_id,
  lag(event_type) OVER w AS prev_type,
  lead(event_type) OVER w AS next_type,
  round(epoch(ts) - lag(epoch(ts)) OVER w, 6) AS secs_since_prev
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def topk_parts_per_brand(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    p = load_table(spark, sf_dir, "part", spread=False)
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice", "rn")
    )


TOPK_PARTS_PER_BRAND_SQL = """
SELECT p_brand, p_partkey, p_name, p_retailprice, rn FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
    row_number() OVER (PARTITION BY p_brand
                       ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part
) WHERE rn <= 3
"""


# ------------------------------------------------------- E: rollup / cube

def rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")  # agg-first: keep spread
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), _dsum("o_totalprice", "total"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


ROLLUP_ORDER_STATS_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


def cube_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=True: cube's partial aggregate (4x row expansion + decimal
    # sums) runs map-side in the scan stage — see pricing_summary.
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), _dsum("l_quantity", "qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


CUBE_LINEITEM_STATS_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


# -------------------------------------------------- H: intersect / except

def intersect_except_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with URGENT orders but no LOW-priority orders
    (INTERSECT/EXCEPT table-level set ops — absent from the reference,
    SURVEY §2.H note)."""
    # spread=False despite agg-first (same exception as top_customers):
    # the partial work is hash-distinct over a single int column — cheaper
    # than the exchange the spread would add.
    o = load_table(spark, sf_dir, "orders", spread=False)
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    all_cust = o.select("o_custkey")
    return (
        all_cust.intersect(urgent)
        .exceptAll(low.distinct())
        .orderBy("o_custkey")
    )


INTERSECT_EXCEPT_SQL = """
(SELECT o_custkey FROM orders
 INTERSECT
 SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
EXCEPT ALL
(SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
ORDER BY o_custkey
"""


# ----------------------------------------- E: events daily facts (stream-ish)

def events_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")  # agg-first: keep spread
    return (
        ev.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            _dsum("value", "total_value"),
        )
        .orderBy("day", "event_type")
    )


EVENTS_DAILY_STATS_SQL = """
SELECT CAST(ts AS DATE) AS day, event_type,
  count(*) AS n_events,
  count(DISTINCT user_id) AS n_users,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY CAST(ts AS DATE), event_type
ORDER BY day, event_type
"""


# -------------------------------------------- E: semi/anti join predicates

def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti (NOT EXISTS) — SURVEY §2.D7 anti-join semantics.

    Phrased as "no URGENT order" because every customer in the testdata has
    at least one order (a plain no-orders anti-join is trivially empty)."""
    c = load_table(spark, sf_dir, "customer", spread=False)
    o = load_table(spark, sf_dir, "orders", spread=False)
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


CUSTOMERS_WITHOUT_URGENT_ORDERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
ORDER BY c_custkey
"""


def suppliers_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi (EXISTS)."""
    s = load_table(spark, sf_dir, "supplier", spread=False)
    li = load_table(spark, sf_dir, "lineitem", spread=False)
    returned = li.filter(F.col("l_returnflag") == "R").select("l_suppkey")
    return (
        s.join(returned, s.s_suppkey == returned.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


SUPPLIERS_WITH_RETURNS_SQL = """
SELECT s_suppkey, s_name FROM supplier
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_suppkey = s_suppkey AND l_returnflag = 'R')
ORDER BY s_suppkey
"""


# ------------------------------------------- F4: sessionization (events)

SESSION_GAP_S = 1800  # 30-min inactivity closes a session


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: lag + running-sum session ids.

    The batch form of a session window (streaming analog:
    ``F.session_window(ts, '30 minutes')``). Both windows partition on
    user_id — high cardinality, so sorts are per-user partitions, no
    single-node bottleneck at scale.
    """
    ev = load_table(spark, sf_dir, "events", spread=False)
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # All gap/duration arithmetic in INTEGRAL microseconds (unix_micros),
    # never float epoch seconds: double round-trips truncate nanos and can
    # land on x.999… exactly at the gap boundary, giving config-dependent
    # answers. Integral micros are exact on both Spark and DuckDB
    # (epoch_us) under any session config.
    us = F.unix_micros(F.col("ts"))
    gap_us = us - F.lag(us).over(w_ord)
    new_sess = F.when(
        gap_us.isNull() | (gap_us > SESSION_GAP_S * 1_000_000), 1
    ).otherwise(0)
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = ev.select(
        "user_id", us.alias("us"), "event_id", new_sess.alias("new_sess")
    ).withColumn("session_id", F.sum("new_sess").over(w_run))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("(max(us) - min(us)) DIV 1000000").alias("session_seconds"),
        )
        .orderBy("user_id", "session_id")
    )


USER_SESSIONS_SQL = f"""
SELECT user_id, session_id, count(*) AS n_events,
       (max(us) - min(us)) // 1000000 AS session_seconds
FROM (
  SELECT user_id, us,
         -- DuckDB window-sums INTEGER into HUGEINT, which Arrow/pandas
         -- canonicalize as decimal128 -> float64 (1.0 != Spark's bigint
         -- 1); CAST keeps the oracle's result type integral end-to-end.
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM (
    SELECT user_id, us, event_id,
           CASE WHEN lag(us) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id) IS NULL
                  OR us - lag(us) OVER (PARTITION BY user_id
                                        ORDER BY us, event_id)
                     > {SESSION_GAP_S}::BIGINT * 1000000
                THEN 1 ELSE 0 END AS new_sess
    FROM (SELECT user_id, epoch_us(ts) AS us, event_id FROM events)
  )
)
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


# ------------------------------------------- E6: exact percentiles

def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per order priority (Spark
    ``percentile`` == DuckDB ``quantile_cont``)."""
    o = load_table(spark, sf_dir, "orders")  # agg-first: keep spread
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


PRICE_PERCENTILES_SQL = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ------------------------------------------- G4: pivot (status x priority)

def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts: one column per o_orderstatus value.

    Values pinned explicitly (TPC-H statuses F/O/P) — never let pivot
    scan for distinct values on a 100 TB fact table.
    """
    o = load_table(spark, sf_dir, "orders")  # agg-first: keep spread
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
        .orderBy("o_orderpriority")
    )


PIVOT_STATUS_BY_PRIORITY_SQL = """
SELECT o_orderpriority,
       count(*) FILTER (o_orderstatus = 'F') AS "F",
       count(*) FILTER (o_orderstatus = 'O') AS "O",
       count(*) FILTER (o_orderstatus = 'P') AS "P"
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ------------------------------------------- E7: exact daily distincts

def daily_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count_distinct per day+type (the oracle-checkable half of
    the distinct-count story; approx_count_distinct/HLL is the 100 TB
    fast path — same plan shape, sketch instead of exact set)."""
    ev = load_table(spark, sf_dir, "events")  # agg-first: keep spread
    return (
        ev.groupBy(F.to_date("ts").alias("event_date"), "event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_date", "event_type")
    )


DAILY_DISTINCT_USERS_SQL = """
SELECT CAST(ts AS DATE) AS event_date, event_type,
       count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events
GROUP BY CAST(ts AS DATE), event_type
ORDER BY event_date, event_type
"""


def session_windows_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4's twin via Spark's native session_window (the streaming-capable
    operator — same gap-merge semantics, usable under watermarks). The
    oracle re-derives the identical sessions from the lag/running-sum
    form: session_end = max(ts) + gap by definition of a session window.
    """
    ev = load_table(spark, sf_dir, "events", spread=False)
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_S} seconds").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


SESSION_WINDOWS_NATIVE_SQL = f"""
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_S} SECOND AS session_end,
       count(*) AS n_events
FROM (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(epoch(ts)) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                  OR epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                     > {SESSION_GAP_S}
                THEN 1 ELSE 0 END AS new_sess
    FROM events
  )
)
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E: explicit GROUPING SETS (beyond rollup/cube): totals by
    (priority, status), by priority alone, and grand total, with
    grouping_id distinguishing the levels."""
    o = load_table(spark, sf_dir, "orders")  # agg-first: keep spread
    o.createOrReplaceTempView("v_orders_gs")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               grouping(o_orderpriority) AS g_prio,
               grouping(o_orderstatus) AS g_status,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_price,
               count(*) AS n_orders
        FROM v_orders_gs
        GROUP BY GROUPING SETS (
          (o_orderpriority, o_orderstatus), (o_orderpriority), ()
        )
        ORDER BY g_prio, g_status, o_orderpriority, o_orderstatus
        """
    )


GROUPING_SETS_ORDER_STATS_SQL = """
SELECT o_orderpriority, o_orderstatus,
       CASE WHEN grouping(o_orderpriority) THEN 1 ELSE 0 END AS g_prio,
       CASE WHEN grouping(o_orderstatus) THEN 1 ELSE 0 END AS g_status,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS (
  (o_orderpriority, o_orderstatus), (o_orderpriority), ()
)
ORDER BY g_prio, g_status, o_orderpriority, o_orderstatus
"""


# ------------------------- E10: semi-structured JSON extraction (round 11)

def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON extraction over ``events.props`` (round 11 — the
    column no operator previously computed on): parse the JSON payload
    with a declared schema (``from_json``, the typed fast path — the
    parse runs once per row inside codegen and prunes to the single
    field; ``get_json_object`` would re-scan the string per field),
    bucket the extracted key, and aggregate per (event_type, bucket).

    Semi-structured columns at 100 TB: the parse is a pure projection
    (no shuffle), the aggregate partially combines map-side, and a
    malformed payload yields NULL (from_json's PERMISSIVE default)
    which flows to the dedicated null bucket rather than failing the
    job — the K3 per-row-isolation convention. DuckDB twin extracts
    with the JSON operator (``props->>'k'``) and the same bucket/agg
    arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        ev.select(
            "event_type",
            "user_id",
            F.col("value"),
            (F.floor(k / 10)).cast("int").alias("k_bucket"),
        )
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            _dsum("value", "total_value"),
        )
    )


# Malformed payloads must reach the NULL bucket in BOTH engines: Spark's
# PERMISSIVE from_json yields NULL on bad JSON / non-numeric k, so the
# DuckDB twin guards extraction behind json_valid and uses TRY_CAST —
# a plain CAST(props->>'k' AS INT) would RAISE where Spark nulls
# (round-11 advisory; latent parity/crash divergence).
PROPS_JSON_STATS_SQL = """
SELECT event_type,
       CAST(floor(TRY_CAST(
         CASE WHEN json_valid(props) THEN props->>'k' END AS INT
       ) / 10) AS INT) AS k_bucket,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type, k_bucket
ORDER BY event_type, k_bucket
"""
