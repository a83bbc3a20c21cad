"""Physical-plan audits: the optimizations SURVEY §4 promises must be
visible in explain() output — filter/projection pushdown to parquet,
broadcast joins for dimensions, no Python in Catalyst-only stages."""

import re

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.boilerplate import boilerplate_patterns, strip_stage
from pdf_extraction_spark.queries import relational


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def sf(spark):
    return "/root/testdata/sf0.001"


def test_filter_pushdown_to_parquet(spark, sf):
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1995-06-01").select("l_orderkey", "l_quantity")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan schema must not include unprojected columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "l_extendedprice" not in m.group(1)
    assert "l_orderkey" in m.group(1)


def test_dimension_joins_are_broadcast(spark, sf):
    plan = plan_of(relational.q_supplier_nation_region(spark, sf))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_fits_broadcast_reads_suffixed_threshold(spark, sf):
    """A threshold written with a unit suffix ("64MB") is the same
    threshold: shipping_priority's size gate must still fire."""
    from pdf_extraction_spark.queries.common import fits_broadcast

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64MB")
    try:
        assert fits_broadcast(spark.read.parquet(f"{sf}/orders.parquet"))
    finally:
        spark.conf.set(key, prev)


def test_semi_anti_join_strategies(spark, sf):
    semi = plan_of(relational.q_semi_join(spark, sf))
    assert "LeftSemi" in semi
    anti = plan_of(relational.q_anti_join(spark, sf))
    assert "LeftAnti" in anti


def test_topk_plans_take_ordered(spark, sf):
    plan = plan_of(relational.q_top_orders(spark, sf))
    assert "TakeOrderedAndProject" in plan  # partial top-k per partition


def test_boilerplate_stage_has_no_python(spark, sf):
    """north_rule: no per-row Python outside the layout/OCR/chunk UDFs —
    the whole boilerplate path must be Catalyst expressions."""
    from pdf_extraction_spark.schemas import PAGES

    pages = spark.createDataFrame([], PAGES)
    for df in (boilerplate_patterns(pages), strip_stage(pages)):
        plan = optimized_of(df)
        assert "PythonUDF" not in plan and "MapInPandas" not in plan


def test_partial_aggregation_pushed(spark, sf):
    """Map-side combine must appear below the exchange (A-class aggs)."""
    plan = plan_of(relational.q_pricing_summary(spark, sf))
    assert "partial_sum" in plan and "Exchange hashpartitioning" in plan
    # partial agg runs BEFORE the shuffle
    assert plan.index("partial_sum") > plan.index("Exchange")


def test_dedup_family_plans_are_shuffle_lean(spark, sf):
    """Round-2 scale rework: shingle/token arrays are row-local (no
    Window over exploded tokens — that shuffled and SORTED the corpus);
    signatures aggregate with map-side partial agg so the exchange
    carries per-doc partials, with the hashing in whole-stage codegen;
    exact dedup shuffles a 32-byte hash key, never the text payload."""
    from pdf_extraction_spark.operators import dedup, quality

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    for df in (dedup.minhash_signature(docs), dedup.simhash16(docs)):
        plan = plan_of(df)
        assert "Window" not in plan
        assert plan.count("Exchange hashpartitioning") == 1
        # partial aggregation runs BELOW the exchange (map-side combine)
        assert ("partial_min" in plan) or ("partial_sum" in plan)
        assert plan.index("partial_") > plan.index("Exchange")
        # the exchange key is the doc id, never the text/token payload
        m = re.search(r"Exchange hashpartitioning\(([^)]*)", plan)
        assert m and "text#" not in m.group(1) and "doc_id#" in m.group(1)

    fp = plan_of(quality.fingerprint(docs))
    # row-local math: no Window, no hash exchange of tokens/hashes.  The
    # only allowed exchange is the input-parallelism guard's round-robin
    # rebalance (round 6: the md5/shingle work was single-core on
    # one-row-group inputs), which carries the raw rows, nothing derived.
    assert "Window" not in fp and "Exchange hashpartitioning" not in fp

    exact = plan_of(dedup.exact_dedup(docs))
    assert "Window" not in exact
    # the shuffle key is the md5 hash (computed below the exchange),
    # not the text column
    m = re.search(r"Exchange hashpartitioning\(([^)]*)", exact)
    assert m and "text#" not in m.group(1)
    assert "md5(" in exact


def test_lsh_pairs_single_bucket_shuffle_and_cap(spark, sf):
    """LSH pair generation: one (band, bucket) exchange + the distinct —
    no bucket self-join re-evaluating the signature subplan, and the
    bucket-size cap is present before pair emission."""
    from pdf_extraction_spark.operators import dedup

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pairs = dedup.lsh_candidate_pairs(docs)
    plan = plan_of(pairs)
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    # signature partial-agg + (band,bucket) collect + final distinct —
    # all partial-aggregated / fixed-width; never a bucket self-join
    assert plan.count("Exchange hashpartitioning") <= 3
    # cap excludes degenerate buckets: a corpus of identical docs
    # produces one bucket above the cap -> zero pairs, but the cluster
    # stays visible through the oversize-bucket audit
    same = spark.range(dedup.LSH_BUCKET_CAP + 1).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma delta epsilon").alias("text"),
    )
    assert dedup.lsh_candidate_pairs(same).count() == 0
    over = dedup.lsh_oversize_buckets(same).collect()
    assert len(over) == 2  # both bands collapse to one oversized bucket
    assert all(r.n_docs == dedup.LSH_BUCKET_CAP + 1 for r in over)


def test_verify_candidates_exact_jaccard(spark, sf):
    """verify step of the LSH loop: exact Jaccard on the candidate
    pairs only, values hand-checkable, threshold filters."""
    from pdf_extraction_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
            (3, "alpha beta gamma delta epsilon eta"),    # near dup
            (4, "totally different words here now ok"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.lsh_candidate_pairs(docs)
    got = {(r.doc_a, r.doc_b): r for r in
           dedup.verify_candidates(docs, pairs).collect()}
    assert (1, 2) in got
    assert got[(1, 2)].jaccard == 1.0
    for r in got.values():
        assert 0.0 <= r.jaccard <= 1.0 and 0.0 <= r.sim_est <= 1.0
    # hand check: docs 1 and 3 share 5 of 7 distinct words
    if (1, 3) in got:
        assert got[(1, 3)].jaccard == round(5 / 7, 6)
    # threshold keeps only exact-or-near dups
    strict = dedup.verify_candidates(docs, pairs, threshold=0.99).collect()
    assert {(r.doc_a, r.doc_b) for r in strict} <= {(1, 2)}


def test_ann_bucket_no_self_join(spark, sf):
    """ANN bucket is a column on the embeddings scan — no join of the
    embeddings table against itself to attach the bucket."""
    from pdf_extraction_spark.operators import similarity

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    plan = plan_of(similarity.ann_lsh_topk(emb, probe_id=0, k=5))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # probe scalar joins only


def test_strip_auto_converts_to_broadcast_at_runtime(spark):
    """strip_stage attaches the pattern side with no hint: AQE must
    convert the pattern join to broadcast-hash at runtime from the
    built side's ACTUAL shuffle bytes (this replaced the driver-side
    distinct-host count job — a full extra pages scan), and the rows
    must match the sort-merge plan the same call gets with AQE and
    auto-broadcast off."""
    from pdf_extraction_spark.operators.extract import extract_stage
    from pdf_extraction_spark.sources.corpus import corpus_df

    pages = extract_stage(corpus_df(spark, 60)).cache()
    confs = {"spark.sql.adaptive.enabled": "false",
             "spark.sql.autoBroadcastJoinThreshold": "-1"}
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        auto = strip_stage(pages)
        auto.write.mode("overwrite").format("noop").save()
        ep = plan_of(auto)
        assert "AdaptiveSparkPlan" in ep
        assert "BroadcastHashJoin" in ep and "SortMergeJoin" not in ep
        auto_rows = sorted(map(tuple, auto.collect()))
        for k, v in confs.items():
            spark.conf.set(k, v)
        merged = strip_stage(pages)
        assert "SortMergeJoin" in plan_of(merged)
        assert auto_rows == sorted(map(tuple, merged.collect()))
        with pytest.raises(ValueError, match="join_strategy"):
            strip_stage(pages, join_strategy="shuffle")
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
        pages.unpersist()


def test_shingle_array_equals_window_form_fuzz(spark):
    """The codegen regexp shingle construction is exactly the sliding
    window over split-minus-empties tokens: pinned against the round-1
    window form on 1,500 seeded messy-spacing texts (multi-space runs,
    leading/trailing spaces, multibyte, null/empty/blank edges)."""
    import random
    import string

    from pyspark.sql import Window

    from pdf_extraction_spark.operators import dedup

    rnd = random.Random(7)
    rows = []
    for i in range(1500):
        n = rnd.randint(0, 12)
        toks = [
            "".join(rnd.choices(string.ascii_lowercase + "가나다0123.|", k=rnd.randint(1, 6)))
            for _ in range(n)
        ]
        text = (" " * rnd.randint(0, 2)) + (" " * rnd.randint(1, 3)).join(toks) + (
            " " * rnd.randint(0, 2)
        )
        rows.append((i, text))
    rows += [(90001, None), (90002, ""), (90003, "   ")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    tok = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    ).filter(F.col("w") != "")
    win = Window.partitionBy("doc_id").orderBy("pos")
    old = (
        tok.select(
            "doc_id",
            F.concat_ws(" ", "w", F.lead("w", 1).over(win), F.lead("w", 2).over(win)).alias("shingle"),
            F.lead("w", 2).over(win).alias("_w2"),
        )
        .filter(F.col("_w2").isNotNull())
        .select("doc_id", "shingle")
    )
    new = docs.select("doc_id", F.explode(dedup.shingle_array("text")).alias("shingle"))
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
