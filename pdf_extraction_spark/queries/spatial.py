"""Global spatial join queries (J5/J6 shapes, SURVEY §2.3) with DuckDB
oracles.

Inside the pipeline these joins are page-local (both sides live in one
layout-UDF call); these queries exercise the *global* form — a bbox
theta-join across tables — over deterministic geometry synthesized
from the TPC-H-ish keys, so the driver's oracle gate covers the
operator itself.

The title join runs as an equi-join on a y cell (PAPERS.md, "Binary
Theta-Joins using MapReduce"): each rect gets the single cell of its
top, each block is copied into every cell its gap window can reach,
the two equi-join on the cell, and the exact predicate post-filters
the candidates.  A pair meets in at most one cell, so no pair is
emitted twice; ``title_candidates`` says why its cell ranges cover the
predicate under floating point.  The containment join stays a
class x class nested loop: its geometry has at most 4,000 rect
classes and 7,425 point classes at any scale factor, and a 2-D cell
join measured within the noise of it (BENCH/SPATIAL_FORMS.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .common import table as _table

# reference thresholds (structured_extract.py:191-214 / table_ocr.py:25)
V_THRESH = 120.0
OVERLAP_THRESH = 0.5
MAX_CHARS = 60
OVERLAP_WEIGHT = 10.0
TOLERANCE = 2.0
RECT = ["t_left", "t_right", "t_top", "t_bottom"]


def _cells(lo: Column, hi: Column, size: float) -> Column:
    """One row per grid cell ``floor(x / size)`` that [lo, hi] reaches."""
    return F.explode(F.sequence(F.floor(lo / size), F.floor(hi / size)))


def _tables_geom(spark, sf_dir):
    """Synthetic table regions from part: deterministic bbox math."""
    p = _table(spark, sf_dir, "part")
    left = (F.col("p_partkey") % 40).cast("double") * 12.0
    width = ((F.col("p_size") % 20) + 8).cast("double") * 6.0
    top = ((F.col("p_partkey") % 50).cast("double")) * 14.0 + 100.0
    return p.select(
        F.col("p_partkey").alias("table_id"),
        left.alias("t_left"),
        (left + width).alias("t_right"),
        top.alias("t_top"),
        (top - 90.0).alias("t_bottom"),
    )


def _blocks_geom(spark, sf_dir):
    """Synthetic text blocks from customer rows."""
    c = _table(spark, sf_dir, "customer")
    left = (F.col("c_custkey") % 45).cast("double") * 11.0
    width = ((F.col("c_nationkey") % 15) + 6).cast("double") * 7.0
    bottom = ((F.col("c_custkey") % 55).cast("double")) * 13.0 + 105.0
    return c.select(
        F.col("c_custkey").alias("block_id"),
        F.col("c_name").alias("text"),
        left.alias("b_left"),
        (left + width).alias("b_right"),
        (bottom + 12.0).alias("b_top"),
        bottom.alias("b_bottom"),
    )


def title_candidates(rects: DataFrame, blocks: DataFrame) -> DataFrame:
    """(rect, block) pairs whose y cells meet: a superset of the pairs
    with 0 <= b_bottom - t_top <= V_THRESH.  A rect sits in the one
    V_THRESH-high cell of its top; a block is copied into the cells
    of [b_bottom - 2 * V_THRESH, b_bottom].  The upper end is exact:
    the rounded gap is >= 0 iff b_bottom >= t_top, and floor(x / V) is
    monotone.  The lower end is one cell wider than the gap window,
    because the rounded gap fl(b_bottom - t_top) <= V_THRESH also
    admits a t_top just below b_bottom - V_THRESH: b_bottom = 120,
    t_top = -1e-15 has gap exactly 120.0 but t_top in cell -1."""
    t = rects.withColumn("_cell", F.floor(F.col("t_top") / V_THRESH))
    b = blocks.withColumn(
        "_cell",
        _cells(F.col("b_bottom") - 2 * V_THRESH, F.col("b_bottom"), V_THRESH),
    )
    return t.join(b, "_cell").drop("_cell")


def title_pairs(rects: DataFrame, blocks: DataFrame) -> DataFrame:
    """Every (rect, block) pair the J5 predicate admits, scored:
    horizontal overlap >= 0.5 of the narrower side, 0 <= vertical gap
    <= 120, score = gap - 10*overlap."""
    ov_left = F.greatest("b_left", "t_left")
    ov_right = F.least("b_right", "t_right")
    overlap = (ov_right - ov_left) / F.least(
        F.greatest(F.col("b_right") - F.col("b_left"), F.lit(1e-3)),
        F.greatest(F.col("t_right") - F.col("t_left"), F.lit(1e-3)),
    )
    gap = F.col("b_bottom") - F.col("t_top")
    return (
        title_candidates(rects, blocks)
        .filter((ov_right > ov_left) & (gap >= 0) & (gap <= V_THRESH))
        .withColumn("overlap", F.round(overlap, 9))
        .filter(F.col("overlap") >= OVERLAP_THRESH)
        .withColumn("score", F.round(gap - OVERLAP_WEIGHT * F.col("overlap"), 6))
    )


def q_spatial_title_join(spark, sf_dir):
    """J5 nearest-above title attach (structured_extract.py:180-214):
    for each table bbox pick the block with horizontal overlap >= 0.5,
    0 <= vertical gap <= 120, len(text) <= 60, minimizing
    gap - 10*overlap; deterministic tiebreak on block_id.

    The score depends only on the bbox geometry, and among
    same-geometry blocks the winner is always the min block_id (equal
    scores, id tiebreak), so blocks collapse to one candidate per
    geometry class and tables to one row per distinct rect before the
    cell join (guide §2.3, aggregate before join).  The per-rect
    winner is the min of (score, block_id, text), cheaper than a
    row_number window (BENCH/SPATIAL_FORMS.md), and re-attaches to
    the full table list by rect equality (exact: both sides compute
    identical doubles from the same integer expressions)."""
    t = _tables_geom(spark, sf_dir)
    b = _blocks_geom(spark, sf_dir)
    b_classes = (
        b.filter((F.length("text") <= MAX_CHARS) & (F.length("text") > 0))
        .groupBy("b_left", "b_right", "b_top", "b_bottom")
        .agg(
            F.min("block_id").alias("block_id"),
            F.min_by("text", "block_id").alias("text"),
        )
    )
    t_classes = t.select(*RECT).distinct()
    best_per_rect = (
        title_pairs(t_classes, b_classes)
        .groupBy(*RECT)
        .agg(F.min(F.struct("score", "block_id", "text")).alias("best"))
        .select(*RECT, "best.text", "best.score")
    )
    # no broadcast hint: at this sf AQE converts the re-attach join to
    # broadcast from the actual (tiny) per-rect winner set; with unique
    # geometry at scale it degrades to a plain equi-join, never a
    # forced broadcast
    return t.join(best_per_rect, RECT).select(
        "table_id", F.col("text").alias("title"), "score"
    )


SQL_SPATIAL_TITLE_JOIN = """
WITH t AS (
  SELECT p_partkey AS table_id,
         CAST(p_partkey % 40 AS DOUBLE) * 12.0 AS t_left,
         CAST(p_partkey % 40 AS DOUBLE) * 12.0 + (CAST(p_size % 20 AS DOUBLE) + 8) * 6.0 AS t_right,
         CAST(p_partkey % 50 AS DOUBLE) * 14.0 + 100.0 AS t_top,
         CAST(p_partkey % 50 AS DOUBLE) * 14.0 + 10.0 AS t_bottom
  FROM part),
b AS (
  SELECT c_custkey AS block_id, c_name AS text,
         CAST(c_custkey % 45 AS DOUBLE) * 11.0 AS b_left,
         CAST(c_custkey % 45 AS DOUBLE) * 11.0 + (CAST(c_nationkey % 15 AS DOUBLE) + 6) * 7.0 AS b_right,
         CAST(c_custkey % 55 AS DOUBLE) * 13.0 + 117.0 AS b_top,
         CAST(c_custkey % 55 AS DOUBLE) * 13.0 + 105.0 AS b_bottom
  FROM customer),
j AS (
  SELECT table_id, block_id, text,
         ROUND((LEAST(b_right, t_right) - GREATEST(b_left, t_left))
               / LEAST(GREATEST(b_right - b_left, 1e-3), GREATEST(t_right - t_left, 1e-3)), 9) AS overlap,
         b_bottom - t_top AS gap
  FROM t JOIN b
    ON LEAST(b_right, t_right) > GREATEST(b_left, t_left)
   AND b_bottom - t_top >= 0 AND b_bottom - t_top <= 120.0
   AND length(text) <= 60 AND length(text) > 0),
scored AS (
  SELECT table_id, block_id, text, ROUND(gap - 10.0 * overlap, 6) AS score
  FROM j WHERE overlap >= 0.5)
SELECT table_id, text AS title, score
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY table_id
                                   ORDER BY score ASC, block_id ASC) AS rn
      FROM scored)
WHERE rn = 1
"""


def q_spatial_containment(spark, sf_dir):
    """J6 point-in-rect containment join (table_ocr.py:161-203): word
    centers (from customer geometry) joined into table regions with
    tolerance 2.0; counts words per region."""
    t = _tables_geom(spark, sf_dir)
    b = _blocks_geom(spark, sf_dir)
    # Same class reduction as the title join (guide §2.3): containment
    # depends only on the word's CENTER POINT and the table's RECT, so
    # collapse words to distinct points (with count + min id) and
    # tables to distinct rects before the class x class nested loop,
    # then re-attach per-rect results to the full table list.  n_words
    # = sum of point multiplicities, first_block = min of per-point min
    # ids — exactly the original aggregate.
    cx = (F.col("b_left") + F.col("b_right")) / 2.0
    cy = (F.col("b_bottom") + F.col("b_top")) / 2.0
    points = (
        b.select(cx.alias("cx"), cy.alias("cy"), "block_id")
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("_n"), F.min("block_id").alias("_min_id"))
    )
    rects = t.select(*RECT).distinct()
    j = rects.join(
        points,
        (F.col("cx") >= F.col("t_left") - TOLERANCE)
        & (F.col("cx") <= F.col("t_right") + TOLERANCE)
        & (F.col("cy") >= F.col("t_bottom") - TOLERANCE)
        & (F.col("cy") <= F.col("t_top") + TOLERANCE),
    )
    per_rect = j.groupBy(*RECT).agg(
        F.sum("_n").alias("n_words"),
        F.min("_min_id").alias("first_block"),
    )
    return t.join(per_rect, RECT).select("table_id", "n_words", "first_block")


SQL_SPATIAL_CONTAINMENT = """
WITH t AS (
  SELECT p_partkey AS table_id,
         CAST(p_partkey % 40 AS DOUBLE) * 12.0 AS t_left,
         CAST(p_partkey % 40 AS DOUBLE) * 12.0 + (CAST(p_size % 20 AS DOUBLE) + 8) * 6.0 AS t_right,
         CAST(p_partkey % 50 AS DOUBLE) * 14.0 + 100.0 AS t_top,
         CAST(p_partkey % 50 AS DOUBLE) * 14.0 + 10.0 AS t_bottom
  FROM part),
b AS (
  SELECT c_custkey AS block_id,
         (CAST(c_custkey % 45 AS DOUBLE) * 11.0
          + CAST(c_custkey % 45 AS DOUBLE) * 11.0 + (CAST(c_nationkey % 15 AS DOUBLE) + 6) * 7.0) / 2.0 AS cx,
         (CAST(c_custkey % 55 AS DOUBLE) * 13.0 + 105.0
          + CAST(c_custkey % 55 AS DOUBLE) * 13.0 + 117.0) / 2.0 AS cy
  FROM customer)
SELECT table_id, COUNT(*) AS n_words, MIN(block_id) AS first_block
FROM t JOIN b
  ON cx >= t_left - 2.0 AND cx <= t_right + 2.0
 AND cy >= t_bottom - 2.0 AND cy <= t_top + 2.0
GROUP BY table_id
"""


QUERIES = {
    "spatial_title_join": q_spatial_title_join,
    "spatial_containment": q_spatial_containment,
}

ORACLE_SQL = {
    "spatial_title_join": SQL_SPATIAL_TITLE_JOIN,
    "spatial_containment": SQL_SPATIAL_CONTAINMENT,
}
