"""Spatial theta-joins (J5/J6): both queries against their DuckDB
oracles, no nested-loop join in the title join's executed plan, the
title cell join against a brute-force cross join on edge-case
geometry, and its candidate growth on spread-out geometry."""

import random
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

from pdf_extraction_spark.queries import spatial
from tools.check_correctness import TABLES, compare

SF_DIR = "/root/testdata/sf0.01"
V = spatial.V_THRESH
RECT_DDL = "t_left double, t_right double, t_top double, t_bottom double"
BLOCK_DDL = "block_id long, text string, b_left double, b_right double, b_top double, b_bottom double"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(spatial.QUERIES))
def test_spatial_oracle(name, spark, duck):
    sdf = spatial.QUERIES[name](spark, SF_DIR)
    problems = compare(name, sdf, duck.execute(spatial.ORACLE_SQL[name]).df())
    assert not problems, problems
    if name != "spatial_title_join":
        return  # containment stays a class x class nested loop
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def _spark_round(x, digits):
    """Spark's round(double): HALF_UP on the double's decimal string."""
    q = Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP)
    return float(q)


def _tenths(rng, lo, hi):
    """A multiple of 0.1 in [lo, hi): not exact in binary."""
    return rng.randrange(round(lo * 10), round(hi * 10)) / 10


def _title_brute(rects, blocks):
    out = set()
    for r in rects:
        t_left, t_right, t_top, _ = r
        for block_id, _, b_left, b_right, _, b_bottom in blocks:
            ov_left, ov_right = max(b_left, t_left), min(b_right, t_right)
            gap = b_bottom - t_top
            if not (ov_right > ov_left and 0 <= gap <= V):
                continue
            overlap = _spark_round(
                (ov_right - ov_left)
                / min(max(b_right - b_left, 1e-3), max(t_right - t_left, 1e-3)),
                9,
            )
            if overlap >= spatial.OVERLAP_THRESH:
                score = _spark_round(gap - spatial.OVERLAP_WEIGHT * overlap, 6)
                out.add((*r, block_id, overlap, score))
    return out


def _title_geometry():
    rects = [
        (0.0, 20.0, 100.0, 10.0),
        (-30.0, -10.0, -50.3, -140.3),  # negative: floor of negative cells
        (5.0, 5.0, 200.0, 110.0),  # zero width
        (5.0, 5.0005, 300.0, 210.0),  # narrower than the 1e-3 clamp
        (40.0, 20.0, 100.0, 10.0),  # inverted in x
        (0.0, 20.0, 10.0, 100.0),  # inverted in y
        (0.0, 20.0, -1e-15, -90.0),  # gap rounds to exactly V_THRESH
    ]
    blocks = [
        (1, "b", 0.0, 10.0, 112.0, 100.0),  # gap exactly 0
        (2, "b", 0.0, 10.0, 232.0, 220.0),  # gap exactly V_THRESH
        (3, "b", 0.0, 10.0, 232.1, 220.1),  # just above V_THRESH
        (4, "b", 0.0, 10.0, 111.9, 99.9),  # just below 0
        (5, "b", 10.0, 30.0, 150.0, 138.0),  # overlap exactly 0.5
        (6, "b", 10.1, 30.1, 150.0, 138.0),  # overlap just under 0.5
        (7, "b", -40.0, -15.0, -8.0, -20.0),
        (8, "b", 0.0, 10.0, 132.0, 120.0),
        (9, "b", 4.0, 6.0, 330.0, 318.0),
        (10, "b", 4.9999, 5.0004, 260.0, 248.0),
        (11, "b", 20.0, 40.0, 30.0, 18.0),
        (12, "b", 0.0, 0.0, 132.0, 120.0),  # zero width
    ]
    rng = random.Random(5)
    for _ in range(60):
        left = _tenths(rng, -200, 200)
        top = _tenths(rng, -300, 300)
        rects.append((left, left + _tenths(rng, 0, 60), top, top - 90.0))
    for i in range(200):
        left = _tenths(rng, -200, 200)
        # gaps at and around the window ends, from a random table top
        bottom = rng.choice(rects)[2] + rng.choice([0.0, 0.1, 119.9, 120.0, 120.1])
        bottom = bottom if i % 3 else _tenths(rng, -300, 420)
        blocks.append((100 + i, "b", left, left + _tenths(rng, 0, 60), bottom + 12.0, bottom))
    return rects, blocks


def test_title_pairs_match_brute_force_on_edge_geometry(spark):
    rects, blocks = _title_geometry()
    got = spatial.title_pairs(
        spark.createDataFrame(rects, RECT_DDL), spark.createDataFrame(blocks, BLOCK_DDL)
    ).select(*spatial.RECT, "block_id", "overlap", "score")
    want = _title_brute(rects, blocks)
    assert {tuple(r) for r in got.collect()} == want
    # the named edge cases are all there
    assert {(0.0, 20.0, 100.0, 10.0, i) for i in (1, 2, 5, 8)} <= {w[:5] for w in want}
    assert (0.0, 20.0, -1e-15, -90.0, 8) in {w[:5] for w in want}
    assert len(want) > 60


def _spread(n, height, seed):
    """n rects and n blocks, spread uniformly over ``height``."""
    rng = random.Random(seed)
    rects, blocks = [], []
    for i in range(n):
        left, top = rng.uniform(0, 480), rng.uniform(0, height)
        rects.append((left, left + rng.uniform(48, 162), top, top - 90.0))
        left, bottom = rng.uniform(0, 495), rng.uniform(0, height)
        blocks.append((i, "b", left, left + rng.uniform(42, 140), bottom + 12.0, bottom))
    return rects, blocks


def test_title_candidates_grow_linearly(spark):
    """4x the geometry over 4x the height: the nested loop compares 16x
    the pairs, the cell join at most 6x (about 4x: the density per
    cell stays the same).  Counts candidate rows; times nothing."""
    counts = {}
    for scale in (1, 4):
        rects, blocks = _spread(150 * scale, 1200.0 * scale, seed=scale)
        counts[scale] = (
            len(rects) * len(blocks),
            spatial.title_candidates(
                spark.createDataFrame(rects, RECT_DDL),
                spark.createDataFrame(blocks, BLOCK_DDL),
            ).count(),
        )
    nested, title = (b / a for a, b in zip(counts[1], counts[4]))
    assert nested == 16
    assert title <= 6, counts
