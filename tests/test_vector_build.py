"""Vector-DB build over the committed pipeline (the reference's
build_vector_db job): typed chunks with source_type, hash embeddings +
LSH bucket, retrieval over the pipeline chunk table."""

import os

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.functions import text_pure
from pdf_extraction_spark.operators import retrieval
from pdf_extraction_spark.operators.embed import EMBED_DIM
from pdf_extraction_spark.plans import stage_store
from pdf_extraction_spark.plans.pipeline import run_pipeline, run_vector_build
from pdf_extraction_spark.sources.corpus import corpus_df


@pytest.fixture(scope="module")
def built(spark, work_dir):
    root = f"{work_dir}/vec"
    out = run_pipeline(spark, corpus_df(spark, 60), root, resume=False, run_id="vb")
    vec = run_vector_build(spark, root, run_id="vb")
    return out, vec


def test_typed_chunks_cover_three_sources(built, spark):
    out, vec = built
    typed = vec["typed_chunks"]
    kinds = {r.source_type for r in typed.select("source_type").distinct().collect()}
    assert kinds == {"page_text", "table", "figure"}
    # ids unique within (url, page_no, source_type)
    dupes = (
        typed.groupBy("url", "page_no", "source_type", "chunk_id")
        .count().filter("count > 1").count()
    )
    assert dupes == 0
    # page_text chunks are chunk_spans over each page's committed
    # stripped text, the span index as chunk_id
    pages_text = {(r.url, r.page_no): r.page_text for r in out["page_text"].collect()}
    got: dict = {}
    for r in typed.filter("source_type = 'page_text'").collect():
        got.setdefault((r.url, r.page_no), []).append((r.chunk_id, r.chunk_text))
    want = {
        key: [(i, t[s:e]) for i, (s, e) in enumerate(text_pure.chunk_spans(t))]
        for key, t in pages_text.items() if t
    }
    assert got and {k: sorted(v) for k, v in got.items()} == want
    n_table = typed.filter("source_type = 'table'").count()
    n_fig = typed.filter("source_type = 'figure'").count()
    assert n_table > 0 and n_fig > 0


def test_chunk_vectors_have_embeddings_and_buckets(built):
    _, vec = built
    rows = vec["chunk_vectors"].limit(5).collect()
    for r in rows:
        assert len(r.embedding) == EMBED_DIM
        assert set(r.bucket) <= {"0", "1"} and len(r.bucket) == 8


def test_hybrid_retrieval_over_pipeline_chunks(built):
    """The reference's primary query surface: hybrid search over the
    source_type-tagged pipeline chunk table, deduped per (url, page)."""
    _, vec = built
    typed = vec["typed_chunks"]
    out = retrieval.chunk_hybrid_search(
        typed, query="alpha beta report", top_k=10,
        doc_col="url", page_col="page_no",
    ).collect()
    assert 0 < len(out) <= 10
    keys = [(r.url, r.page_no) for r in out]
    assert len(keys) == len(set(keys))
    scores = [r.combined_score for r in out]
    assert scores == sorted(scores, reverse=True)


def test_page_lookup_point_read(built, spark, work_dir):
    """Debug lookup surface (reference debug_page_summary.py:14-39):
    one page's committed chunks by (url, page_no), with both equality
    predicates pushed into the parquet scan."""
    from pdf_extraction_spark.plans.pipeline import page_lookup

    _, vec = built
    any_row = vec["typed_chunks"].select("url", "page_no").first()
    df = page_lookup(spark, f"{work_dir}/vec", any_row.url, any_row.page_no)
    rows = df.collect()
    assert rows and all(
        r.url == any_row.url and r.page_no == any_row.page_no for r in rows
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in plan and "EqualTo(url," in plan


def test_ann_over_pipeline_vectors(built, spark):
    _, vec = built
    from pdf_extraction_spark.operators.similarity import cosine_topk

    cv = vec["chunk_vectors"].withColumn(
        "vid",
        F.xxhash64("url", "page_no", "source_type", "chunk_id"),
    )
    probe = cv.select("vid").orderBy("vid").first().vid
    got = cosine_topk(cv, probe_id=probe, k=5, id_col="vid").collect()
    assert len(got) == 5
    assert all(-1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9 for r in got)


def test_pipeline_vector_query_store_under_tempdir(spark, tmp_path, monkeypatch):
    """q_pipeline_chunk_vectors_ann builds its stage store in the
    platform temp dir (tempfile), so the query runs the same from any
    checkout on any host."""
    import tempfile

    from pdf_extraction_spark.queries import pipeline_ops

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(pipeline_ops, "_CACHE", {})
    rows = pipeline_ops.q_pipeline_chunk_vectors_ann(spark, "sf0.001").collect()
    assert len(rows) == 10
    (root,) = [v for k, v in pipeline_ops._CACHE.items() if k[0] == "vectors"]
    assert root.startswith(str(tmp_path) + os.sep)


def test_vector_commits_write_one_file_per_task(built, work_dir):
    """typed_chunks and chunk_vectors commit plain parquet: each write
    task writes at most one part file (its partition index leads the
    file name), so a commit writes no more files than it has tasks."""
    for stage in ("typed_chunks", "chunk_vectors"):
        names = [
            os.path.basename(f)
            for f in stage_store._part_files(os.path.join(work_dir, "vec", stage))
        ]
        tasks = {n.split("-")[1] for n in names}
        assert names and len(names) == len(tasks), (stage, sorted(names))


def test_stage_root_with_quote_in_path(spark, tmp_path):
    """A stage root whose path holds a single quote commits and reads
    back the same chunks and chunk_vectors rows as a plain root."""
    def build(root):
        root = str(root)
        run_pipeline(spark, corpus_df(spark, 10), root, resume=False, run_id="q1")
        run_vector_build(spark, root, run_id="q1")
        return {
            stage: sorted(map(repr, stage_store.read_stage(spark, root, stage).collect()))
            for stage in ("chunks", "chunk_vectors")
        }

    plain = build(tmp_path / "plain")
    quoted = build(tmp_path / "o'brien")
    assert plain["chunks"] and plain["chunk_vectors"]
    assert quoted == plain
