"""Oracle-gated queries RETIRED from the 50-entry driver registry.

The driver records at most 50 correctness entries (NOTES.md), so when a
new query earns a slot an old one rotates out — but its operator
surface must stay gated.  Everything here keeps the exact same
Spark-vs-DuckDB comparison it had in the driver, executed by
``tests/test_retired_oracles.py`` with the same compare routine the
local harness uses (rows + schema + order-insensitive values).

Rotation history:
* round 2 (registry consolidation, NOTES.md): normalized_prefixes,
  chunk_fixed, lsh_buckets, topk_per_type, window_hour_agg;
* round 3 (slots for chunk_rerank_topk + pipeline_chunk_vectors_ann):
  running_sum, minmax_combined — both still registered in
  relational.py; re-exported here for the pytest gate.

normalized_prefixes and the LSH-bucket oracle SQL are imported from
text_ops.py, where boilerplate_threshold and ann_lsh_topk build on them.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators import similarity
from .common import table as _t
from .relational import (
    DEC,
    SQL_MINMAX_COMBINED,
    SQL_RUNNING_SUM,
    q_minmax_combined,
    q_running_sum,
)
from .text_ops import SQL_NORMALIZED_PREFIXES, _sql_lsh_buckets, q_normalized_prefixes


# --- fixed-width chunk spans ---------------------------------------------------

def q_chunk_fixed(spark, sf_dir):
    """Fixed-width 100/20 chunk spans (the separator-aware splitter is
    pipeline-only; this exposes the span algebra to the SQL gate)."""
    d = _t(spark, sf_dir, "documents")
    n = F.length("text")
    return (
        d.select(
            "doc_id",
            "text",
            n.alias("n"),
            F.explode(F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(80))).alias("s"),
        )
        .select(
            "doc_id",
            F.col("s").cast("long").alias("span_start"),
            F.least(F.col("s") + 100, F.col("n")).cast("long").alias("span_end"),
            F.expr("substring(text, s + 1, 100)").alias("chunk_text"),
        )
    )


SQL_CHUNK_FIXED = """
SELECT doc_id, CAST(s AS BIGINT) AS span_start,
       CAST(LEAST(s + 100, len(text)) AS BIGINT) AS span_end,
       substr(text, CAST(s AS INTEGER) + 1, 100) AS chunk_text
FROM documents, UNNEST(generate_series(0, GREATEST(len(text) - 1, 0), 80)) AS t(s)
"""


# --- LSH bucket expression (first stage of ann_lsh_topk / run_vector_build) ---

def q_lsh_buckets(spark, sf_dir):
    return similarity.lsh_buckets(_t(spark, sf_dir, "embeddings"))


# --- W5 variant: top-2 per group ----------------------------------------------

def q_topk_per_type(spark, sf_dir):
    """W5 variant: top-2 events by value per event_type."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("event_type", "event_id", "value", F.col("rn").cast("int").alias("rnk"))
    )


SQL_TOPK_PER_TYPE = """
SELECT event_type, event_id, value, CAST(rn AS INTEGER) AS rnk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY value DESC, event_id ASC) AS rn
      FROM events) WHERE rn <= 2
"""


# --- tumbling event-time window (streaming shape, batch run) -------------------

def q_window_hour_agg(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
    )


SQL_WINDOW_HOUR_AGG = """
SELECT DATE_TRUNC('hour', ts) AS hour, event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


QUERIES = {
    "normalized_prefixes": q_normalized_prefixes,
    "chunk_fixed": q_chunk_fixed,
    "lsh_buckets": q_lsh_buckets,
    "topk_per_type": q_topk_per_type,
    "window_hour_agg": q_window_hour_agg,
    "running_sum": q_running_sum,
    "minmax_combined": q_minmax_combined,
}

ORACLE_SQL = {
    "normalized_prefixes": SQL_NORMALIZED_PREFIXES,
    "chunk_fixed": SQL_CHUNK_FIXED,
    "lsh_buckets": _sql_lsh_buckets(),
    "topk_per_type": SQL_TOPK_PER_TYPE,
    "window_hour_agg": SQL_WINDOW_HOUR_AGG,
    "running_sum": SQL_RUNNING_SUM,
    "minmax_combined": SQL_MINMAX_COMBINED,
}
