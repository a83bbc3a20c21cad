"""Extraction-pipeline operators registered as driver queries.

These run the full engine over the deterministic synthetic corpus
(generated on the fly — same generator the byte-identical tests pin
against the oracle).  No DuckDB oracle can replay the layout engine,
so the driver records rows-only checks here; the strong per-row
invariant lives in tests/test_extraction_oracle.py.

The corpus size scales with the sf directory so the driver's sf0.01
run stays fast.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import regions
from ..operators.extract import extract_stage
from ..plans.pipeline import TEXT_STAGES
from ..sources.corpus import corpus_df
from .common import prepare

_N_BY_SF = {"sf0.001": 60, "sf0.01": 200, "sf0.1": 1000}


def _n_docs(sf_dir: str) -> int:
    return _N_BY_SF.get(os.path.basename(sf_dir.rstrip("/")), 200)


_CACHE: dict = {}


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark)
    key = (id(spark), _n_docs(sf_dir))
    if key not in _CACHE:
        pages = extract_stage(corpus_df(spark, _n_docs(sf_dir))).persist()
        pages.count()
        _CACHE[key] = pages
    return _CACHE[key]


def q_pipeline_pages(spark, sf_dir):
    """Stage 1-2 output shape: per-page extraction metadata."""
    p = _pages(spark, sf_dir)
    return p.filter(F.col("page_no") > 0).select(
        "url", "page_no", "glyph_coverage", "ocr_triggered",
        "visual_density", "has_tables", "has_figures", "needs_review",
    )


def _text_stage(pages: DataFrame, last: str) -> DataFrame:
    """The pipeline's TEXT_STAGES over ``pages`` up to stage ``last``,
    chained in one plan instead of committed."""
    frames = {"pages": pages}
    for stage, build in TEXT_STAGES:
        frames[stage] = build(frames)
        if stage == last:
            return frames[stage]
    raise KeyError(last)


def q_pipeline_doc_text(spark, sf_dir):
    """North-rule target: (url, extracted_text) byte-checked in tests."""
    return _text_stage(_pages(spark, sf_dir), "doc_text")


def q_pipeline_chunks(spark, sf_dir):
    """North-star chunk stage: (url, span_start, span_end, chunk_text)."""
    return _text_stage(_pages(spark, sf_dir), "chunks")


def q_pipeline_regions(spark, sf_dir):
    """Stage-4 region surface — tables and figures unioned with a
    region_type tag (one driver slot: the driver records at most 50
    correctness entries, see NOTES.md)."""
    p = _pages(spark, sf_dir)
    t = regions.doc_tables(p).select(
        "url", "page_no",
        F.lit("table").alias("region_type"),
        F.col("table_index").alias("region_index"),
        F.col("title").alias("caption"),
        F.col("n_cells").cast("long").alias("n_cells"),
    )
    f = regions.doc_figures(p).select(
        "url", "page_no",
        F.lit("figure").alias("region_type"),
        F.col("figure_index").alias("region_index"),
        F.col("caption").alias("caption"),
        F.lit(None).cast("long").alias("n_cells"),
    )
    return t.unionByName(f)


def q_pipeline_cells(spark, sf_dir):
    c = regions.table_cells(_pages(spark, sf_dir))
    return c.select(
        "url", "page_no", "table_index", "row", "col", "content",
        F.col("numeric_value").cast("double").alias("numeric_value"),
        "unit", "content_type",
    )


def q_pipeline_table_diff(spark, sf_dir):
    """A4 dual-extraction cross-check; arrays joined for a stable shape."""
    d = regions.number_diff(_pages(spark, sf_dir))
    return d.select(
        "url", "page_no",
        F.array_join("only_in_doc", ",").alias("only_in_doc"),
        F.array_join("only_in_ocr", ",").alias("only_in_ocr"),
    )


def q_pipeline_chunk_vectors_ann(spark, sf_dir):
    """The committed vector-DB loop end-to-end (reference
    build_vector_db.py -> search_vector_db.py): run the pipeline into
    stage tables, run_vector_build commits typed_chunks +
    chunk_vectors (hash embeddings + LSH bucket), then ANN reads the
    COMMITTED chunk_vectors snapshot — the driver-gated proof that
    retrieval runs over the pipeline's own committed vectors, not the
    flat test table.  Rows-only check (the layout engine upstream is
    not SQL-replayable)."""
    import tempfile

    from ..operators.similarity import ann_lsh_topk
    from ..plans import stage_store
    from ..plans.pipeline import run_pipeline, run_vector_build
    from ..operators.embed import EMBED_DIM

    prepare(spark)
    n = _n_docs(sf_dir)
    key = ("vectors", id(spark), n)
    if key not in _CACHE:
        root = tempfile.mkdtemp(prefix="pdfx_vec_")
        run_pipeline(spark, corpus_df(spark, n), root, resume=False)
        run_vector_build(spark, root)
        _CACHE[key] = root
    root = _CACHE[key]
    vectors = stage_store.read_stage(spark, root, "chunk_vectors").select(
        F.xxhash64("url", "page_no", "chunk_id", "source_type").alias("vec_id"),
        "url", "page_no", "chunk_id", "source_type", "embedding",
    )
    probe_id = vectors.agg(F.min("vec_id")).collect()[0][0]
    topk = ann_lsh_topk(vectors, probe_id=probe_id, k=10, dim=EMBED_DIM)
    return topk.join(vectors.drop("embedding"), "vec_id").select(
        "url", "page_no", "chunk_id", "source_type", "cosine"
    ).orderBy(F.desc("cosine"), "url", "page_no", "chunk_id", "source_type")


QUERIES = {
    "pipeline_pages": q_pipeline_pages,
    "pipeline_doc_text": q_pipeline_doc_text,
    "pipeline_chunks": q_pipeline_chunks,
    "pipeline_regions": q_pipeline_regions,
    "pipeline_cells": q_pipeline_cells,
    "pipeline_table_diff": q_pipeline_table_diff,
    "pipeline_chunk_vectors_ann": q_pipeline_chunk_vectors_ann,
}

ORACLE_SQL: dict = {}  # layout engine is not SQL-replayable (rows-only)
