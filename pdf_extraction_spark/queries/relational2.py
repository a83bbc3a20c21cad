"""Relational operator queries, batch 2: ordered string aggregation
(A13), rollup, filename metadata parse (F13), preference-coalesce join
(J10), distinct-union (SO4), page-range filter (F9/W7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from .common import table as _t
from .relational import DEC


def q_concat_agg(spark, sf_dir):
    """A13 deterministic text concatenation aggregate (reference
    aggregate_page_text / build_table_text order-by, SURVEY §2.4)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ",",
            ).alias("event_seq"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


SQL_CONCAT_AGG = """
SELECT user_id,
       STRING_AGG(event_type, ',' ORDER BY ts, event_id) AS event_seq,
       COUNT(*) AS n_events
FROM events GROUP BY user_id
"""


def q_rollup_revenue(spark, sf_dir):
    """Grouping-set rollup over the pricing dimensions."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


SQL_ROLLUP_REVENUE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_filename_parse(spark, sf_dir):
    """F13 filename metadata parse (load_to_db.py:71-87): build
    '<year>_<company>_Report.pdf' strings and parse them back."""
    c = _t(spark, sf_dir, "customer")
    fname = F.concat(
        (F.lit(1990) + F.col("c_custkey") % 30).cast("string"),
        F.lit("_"),
        F.regexp_replace("c_name", " ", "-"),
        F.lit("_Report.pdf"),
    )
    d = c.select("c_custkey", fname.alias("filename"))
    year = F.regexp_extract("filename", r"(\d{4})_([^_]+)", 1)
    company = F.regexp_extract("filename", r"(\d{4})_([^_]+)", 2)
    return d.select(
        "c_custkey",
        "filename",
        F.when(company != "", company).otherwise(F.lit("Unknown")).alias("company"),
        F.when(year != "", year.cast("int")).alias("report_year"),
    )


SQL_FILENAME_PARSE = """
WITH d AS (
  SELECT c_custkey,
         CAST(1990 + c_custkey % 30 AS VARCHAR) || '_' ||
         regexp_replace(c_name, ' ', '-', 'g') || '_Report.pdf' AS filename
  FROM customer)
SELECT c_custkey, filename,
       CASE WHEN regexp_extract(filename, '(\\d{4})_([^_]+)', 2) <> ''
            THEN regexp_extract(filename, '(\\d{4})_([^_]+)', 2)
            ELSE 'Unknown' END AS company,
       CASE WHEN regexp_extract(filename, '(\\d{4})_([^_]+)', 1) <> ''
            THEN CAST(regexp_extract(filename, '(\\d{4})_([^_]+)', 1) AS INTEGER) END AS report_year
FROM d
"""


def q_coalesce_preference(spark, sf_dir):
    """J10 preference join (load_to_db.py:380-405: prefer the VLM
    artifact, fall back to the Docling one): per order prefer the
    latest RETURNED line's ship date, else the latest overall."""
    li = _t(spark, sf_dir, "lineitem")
    preferred = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("pref_date"))
    )
    fallback = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("fb_date"))
    return (
        fallback.join(preferred, "l_orderkey", "left")
        .select(
            "l_orderkey",
            F.coalesce("pref_date", "fb_date").alias("chosen_date"),
            F.col("pref_date").isNotNull().alias("used_preferred"),
        )
    )


SQL_COALESCE_PREFERENCE = """
WITH pref AS (SELECT l_orderkey, MAX(l_shipdate) AS pref_date
              FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey),
fb AS (SELECT l_orderkey, MAX(l_shipdate) AS fb_date FROM lineitem GROUP BY l_orderkey)
SELECT fb.l_orderkey, COALESCE(pref_date, fb_date) AS chosen_date,
       pref_date IS NOT NULL AS used_preferred
FROM fb LEFT JOIN pref ON fb.l_orderkey = pref.l_orderkey
"""


def q_page_range_filter(spark, sf_dir):
    """F9/W7 page-range selection (structured_extract.py:111-137):
    '1-3,7' style selection pushed down as an isin filter."""
    li = _t(spark, sf_dir, "lineitem")
    pages = [1, 2, 3, 7]  # parse_page_selection("1-3,7")
    return (
        li.filter(F.col("l_linenumber").isin(pages))
        .groupBy("l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_PAGE_RANGE_FILTER = """
SELECT l_linenumber, COUNT(*) AS n FROM lineitem
WHERE l_linenumber IN (1, 2, 3, 7) GROUP BY l_linenumber
"""


QUERIES = {
    "concat_agg": q_concat_agg,
    "rollup_revenue": q_rollup_revenue,
    "filename_parse": q_filename_parse,
    "coalesce_preference": q_coalesce_preference,
    "page_range_filter": q_page_range_filter,
}

ORACLE_SQL = {
    "concat_agg": SQL_CONCAT_AGG,
    "rollup_revenue": SQL_ROLLUP_REVENUE,
    "filename_parse": SQL_FILENAME_PARSE,
    "coalesce_preference": SQL_COALESCE_PREFERENCE,
    "page_range_filter": SQL_PAGE_RANGE_FILTER,
}
