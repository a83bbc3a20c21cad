"""Relational operator queries (SURVEY.md §2: J*, A*, W*, SO*) over the
driver's TPC-H-ish tables, each with a DuckDB oracle twin.

Money/quantity math is done in DECIMAL (exact, order-insensitive) and
presented as DOUBLE; every computed column is aliased identically on
both sides.  Join strategies: dimension joins are broadcast; fact-fact
joins rely on sort-merge + AQE.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from .common import fits_broadcast, table as _t

DEC = "decimal(18,4)"


# --- A-class: grouped aggregation (TPC-H Q1 shape; reference A1-A13) -------

def q_pricing_summary(spark, sf_dir):
    from ..operators.partitioning import ensure_parallelism

    # The heavy decimal partial-agg fuses with the scan, and the sf1.0
    # lineitem file has only 6 row groups — 6 of 32 cores.  A keyed
    # rebalance (hash on the high-cardinality orderkey, no round-robin
    # sort) fires only when the scan is under-split: 1.19 -> 0.84s
    # median at sf1.0, a no-op at scale.  Decimal sums/counts are
    # order-insensitive, so results are exact either way.
    li = ensure_parallelism(
        _t(spark, sf_dir, "lineitem"), key=F.col("l_orderkey")
    )
    # inputs are 2dp; stepwise casts keep every intermediate EXACT (4dp
    # then 6dp), so Spark and the oracle agree bit-for-bit regardless of
    # their decimal-precision promotion rules
    d6 = "decimal(18,6)"
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(d6)
    disc = F.col("l_discount").cast(d6)
    tax = F.col("l_tax").cast(d6)
    disc_price = (price * (F.lit(1).cast(d6) - disc)).cast(d6)
    charge = (disc_price * (F.lit(1).cast(d6) + tax)).cast(d6)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING = """
WITH x AS (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS DECIMAL(18,4)) AS qty,
         CAST(l_extendedprice AS DECIMAL(18,6)) AS price,
         CAST(CAST(l_extendedprice AS DECIMAL(18,6))
              * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))
              AS DECIMAL(18,6)) AS disc_price,
         CAST(l_tax AS DECIMAL(18,6)) AS tax
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
), y AS (
  SELECT *, CAST(disc_price * (CAST(1 AS DECIMAL(18,6)) + tax) AS DECIMAL(18,6)) AS charge
  FROM x
)
SELECT l_returnflag, l_linestatus,
       CAST(SUM(qty) AS DOUBLE) AS sum_qty,
       CAST(SUM(price) AS DOUBLE) AS sum_base_price,
       CAST(SUM(disc_price) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(charge) AS DOUBLE) AS sum_charge,
       ROUND(CAST(SUM(qty) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
       COUNT(*) AS count_order
FROM y GROUP BY l_returnflag, l_linestatus
"""


# --- J-class: joins (J1-J3 shapes) ------------------------------------------

def q_customer_orders(spark, sf_dir):
    """J1: fact ⋈ broadcast dim + grouped agg."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


SQL_CUSTOMER_ORDERS = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(DISTINCT c_custkey) AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_supplier_nation_region(spark, sf_dir):
    """J2 chain: two broadcast dim joins."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum(F.col("s_acctbal").cast(DEC)).cast("double"), 4).alias("total_acctbal"),
        )
    )


SQL_SUPPLIER_NATION_REGION = """
SELECT r_name, COUNT(*) AS n_suppliers,
       ROUND(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE), 4) AS total_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_semi_join(spark, sf_dir):
    """J3 semi: orders having a late-shipped line (EXISTS)."""
    o = _t(spark, sf_dir, "orders")
    late = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= F.lit("1995-01-01"))
    return (
        o.join(late.select("l_orderkey"), o.o_orderkey == late.l_orderkey, "left_semi")
        .select("o_orderkey", "o_orderstatus", F.col("o_totalprice").cast(DEC).cast("double").alias("total"))
    )


SQL_SEMI_JOIN = """
SELECT o_orderkey, o_orderstatus,
       CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS total
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate >= TIMESTAMP '1995-01-01')
"""


def q_anti_join(spark, sf_dir):
    """J4-style anti: customers with no orders (NOT EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o.select("o_custkey"), c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join, revenue agg, top 10 (W1).

    When the orders table itself fits the auto-broadcast threshold (so
    the planner would broadcast it whole), join the dims FIRST and
    broadcast the customer-filtered composite instead — a ~5x smaller
    build side for the lineitem join (guide §3.1: estimates after
    filters are wrong, hint when you know; sf1.0 pinned interleaved
    A/B: 1.76s -> 1.13s, results identical).  Above the threshold the
    shape falls back to the round-5 plan (lineitem ⋈ orders sort-merge
    with AQE, broadcast customer) — no forced broadcast at scale."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))).cast(DEC)
    if fits_broadcast(o):
        oc = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
            "o_orderkey", "o_orderdate"
        )
        joined = li.join(F.broadcast(oc), li.l_orderkey == oc.o_orderkey)
    else:
        joined = li.join(o, li.l_orderkey == o.o_orderkey).join(
            F.broadcast(c), o.o_custkey == c.c_custkey
        )
    return (
        joined
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey, o_orderdate,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --- W-class: windows / top-k / ranking -------------------------------------

def q_top_orders(spark, sf_dir):
    """W1/W2: global top-k (TakeOrderedAndProject)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey",
                 F.col("o_totalprice").cast(DEC).cast("double").alias("total"))
        .orderBy(F.desc("total"), F.asc("o_orderkey"))
        .limit(10)
    )


SQL_TOP_ORDERS = """
SELECT o_orderkey, o_custkey, CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS total
FROM orders ORDER BY total DESC, o_orderkey ASC LIMIT 10
"""


def q_rank1_per_customer(spark, sf_dir):
    """W5: dedup keep rank-1 per group (reference page dedup,
    search_vector_db.py:263-271)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey",
                F.col("o_totalprice").cast(DEC).cast("double").alias("best_total"))
    )


SQL_RANK1_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS best_total
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders) WHERE rn = 1
"""


def q_running_sum(spark, sf_dir):
    """Cumulative window aggregate per user (exact DECIMAL running sum)."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("running_value"),
    )


SQL_RUNNING_SUM = """
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
FROM events
"""


def q_gaps_islands(spark, sf_dir):
    """W8 gaps-and-islands (reference chunk_consecutive,
    structured_extract.py:140-154): consecutive active DAYS per user."""
    e = _t(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    return (
        days.withColumn("rn", F.row_number().over(w))
        .withColumn("island", F.date_sub(F.col("day"), F.col("rn")))
        .groupBy("user_id", "island")
        .agg(
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("start_day"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("end_day"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .drop("island")
    )


SQL_GAPS_ISLANDS = """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
num AS (SELECT user_id, day,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
        FROM days)
SELECT user_id, STRFTIME(MIN(day), '%Y-%m-%d') AS start_day,
       STRFTIME(MAX(day), '%Y-%m-%d') AS end_day, COUNT(*) AS n_days
FROM num GROUP BY user_id, day - CAST(rn AS INTEGER)
"""


def q_sessionize(spark, sf_dir):
    """Sessionization: 30-min inactivity gap per user (lag + cumsum)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # canonical rendering for the driver's value hash (same discipline
    # as q_gaps_islands): timestamps as formatted strings (Spark ts is a
    # tz-aware instant, DuckDB's is naive — raw values hash differently)
    # and session_id cast to BIGINT (DuckDB window SUM yields HUGEINT).
    return sess.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_SESSIONIZE = """
WITH flagged AS (
  SELECT *,
         CASE WHEN EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER w IS NULL
                OR EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_id
"""


# --- A9/A10: normalization + weighted combine --------------------------------

def q_minmax_combined(spark, sf_dir):
    """A9 min-max normalize + A10 weighted 0.6/0.4 combine (reference
    search_vector_db.py:160-178) over order stats."""
    o = _t(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_totalprice").alias("mn_p"),
        F.max("o_totalprice").alias("mx_p"),
        F.min("o_custkey").alias("mn_c"),
        F.max("o_custkey").alias("mx_c"),
    )
    j = o.crossJoin(F.broadcast(stats))
    norm_p = (F.col("o_totalprice") - F.col("mn_p")) / (F.col("mx_p") - F.col("mn_p"))
    norm_c = (F.col("o_custkey") - F.col("mn_c")) / (F.col("mx_c") - F.col("mn_c"))
    return j.select(
        "o_orderkey",
        F.round(norm_p, 6).alias("norm_price"),
        F.round(F.lit(0.6) * norm_p + F.lit(0.4) * norm_c, 6).alias("combined"),
    )


SQL_MINMAX_COMBINED = """
WITH stats AS (SELECT MIN(o_totalprice) mn_p, MAX(o_totalprice) mx_p,
                      MIN(o_custkey) mn_c, MAX(o_custkey) mx_c FROM orders)
SELECT o_orderkey,
       ROUND((o_totalprice - mn_p) / (mx_p - mn_p), 6) AS norm_price,
       ROUND(0.6 * ((o_totalprice - mn_p) / (mx_p - mn_p))
           + 0.4 * ((o_custkey - mn_c) / (mx_c - mn_c)), 6) AS combined
FROM orders CROSS JOIN stats
"""


# --- SO-class: set operations -------------------------------------------------

def q_union_distinct(spark, sf_dir):
    """SO2/SO4: distinct union of two key sets."""
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_suppkey").cast("long").alias("k"))
    return li.union(s).distinct()


SQL_UNION_DISTINCT = """
SELECT l_suppkey AS k FROM lineitem
UNION
SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier
"""


def q_except_parts(spark, sf_dir):
    """SO1: parts never ordered (EXCEPT)."""
    p = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("k"))
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("k"))
    return p.exceptAll(li.distinct()).distinct()


SQL_EXCEPT_PARTS = """
SELECT p_partkey AS k FROM part
EXCEPT
SELECT l_partkey AS k FROM lineitem
"""


def q_intersect_keys(spark, sf_dir):
    """SO3: key intersection."""
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return o.intersect(c)


SQL_INTERSECT_KEYS = """
SELECT o_custkey AS k FROM orders INTERSECT SELECT c_custkey AS k FROM customer
"""


QUERIES = {
    "pricing_summary": q_pricing_summary,
    "customer_orders": q_customer_orders,
    "supplier_nation_region": q_supplier_nation_region,
    "semi_join": q_semi_join,
    "anti_join": q_anti_join,
    "shipping_priority": q_shipping_priority,
    "top_orders": q_top_orders,
    "rank1_per_customer": q_rank1_per_customer,
    # running_sum / minmax_combined rotated to the retired pytest gate
    # (queries/retired.py) to free driver slots for chunk_rerank_topk
    # and pipeline_chunk_vectors_ann (round-3 verdict items 5-6)
    "gaps_islands": q_gaps_islands,
    "sessionize": q_sessionize,
    "union_distinct": q_union_distinct,
    "except_parts": q_except_parts,
    "intersect_keys": q_intersect_keys,
}

ORACLE_SQL = {
    "pricing_summary": SQL_PRICING,
    "customer_orders": SQL_CUSTOMER_ORDERS,
    "supplier_nation_region": SQL_SUPPLIER_NATION_REGION,
    "semi_join": SQL_SEMI_JOIN,
    "anti_join": SQL_ANTI_JOIN,
    "shipping_priority": SQL_SHIPPING_PRIORITY,
    "top_orders": SQL_TOP_ORDERS,
    "rank1_per_customer": SQL_RANK1_PER_CUSTOMER,
    "gaps_islands": SQL_GAPS_ISLANDS,
    "sessionize": SQL_SESSIONIZE,
    "union_distinct": SQL_UNION_DISTINCT,
    "except_parts": SQL_EXCEPT_PARTS,
    "intersect_keys": SQL_INTERSECT_KEYS,
}
