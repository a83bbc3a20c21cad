"""Stage 5 — CHUNK: document text -> (url, span_start, span_end,
chunk_text) rows (the north_star RAG-chunking stage).

Re-expresses the reference's RecursiveCharacterTextSplitter usage
(build_vector_db.py:369-373,399-403) as exact substring spans.  Both
chunkers are one row function run through ``rowmap.map_rows``, the
engine's one Arrow-native row kernel: each text's spans come from
``text_pure.chunk_spans`` and each chunk is sliced from the same
string, so ``chunk_text == text[span_start:span_end]`` holds by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text_pure import chunk_spans
from ..schemas import CHUNKS, TYPED_CHUNKS
from .rowmap import map_rows


def _chunk_rows(url, text, page_no=None):
    """One row per ``chunk_spans`` span of ``text``, keyed for both
    CHUNKS and TYPED_CHUNKS (``from_pylist`` reads only the keys its
    schema names); the span index is the page_text ``chunk_id``."""
    for i, (s, e) in enumerate(chunk_spans(text or "")):
        yield {"url": url, "page_no": page_no, "chunk_id": i,
               "source_type": "page_text", "span_start": s, "span_end": e,
               "chunk_text": text[s:e]}


def assemble_documents(page_text: DataFrame) -> DataFrame:
    """pages -> (url, extracted_text): non-empty page texts joined with
    a blank line, page order (oracle spec step 8)."""
    return (
        page_text.filter(F.length(F.coalesce("page_text", F.lit(""))) > 0)
        .groupBy("url")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("page_no", "page_text"))),
                    lambda s: s["page_text"],
                ),
                "\n\n",
            ).alias("extracted_text")
        )
    )


def chunk_stage(documents: DataFrame) -> DataFrame:
    """(url, extracted_text) -> chunk rows."""
    return map_rows(documents.select("url", "extracted_text"), CHUNKS,
                    lambda: _chunk_rows)


def typed_chunk_stage(page_text: DataFrame, pages: DataFrame) -> DataFrame:
    """The reference vector DB's THREE chunk sources, tagged
    ``source_type`` with doc/page/region ids (build_vector_db.py:473-527,
    metadata at :354-366):

    * page_text — the separator-aware splitter over each page's
      stripped text (the span index is chunk_id);
    * table     — title + row-major cell text per detected table;
    * figure    — caption + description per detected figure.

    -> (url, page_no, chunk_id, source_type, chunk_text).  chunk_id is
    unique within (url, page_no, source_type); region chunks offset by
    region_index.  Table/figure text is pure Catalyst over the nested
    page structs (no Python, no shuffle); only the page splitter runs
    Python, the same row function as chunk_stage.
    """
    pg = map_rows(
        page_text.filter(F.length(F.coalesce("page_text", F.lit(""))) > 0)
        .select("url", "page_text", "page_no"),
        TYPED_CHUNKS,
        lambda: _chunk_rows,
    )
    body = pages.filter(F.col("page_no") > 0)
    tables = (
        body.select("url", "page_no", F.explode("tables").alias("t"))
        .select(
            "url",
            "page_no",
            F.col("t.table_index").cast("long").alias("chunk_id"),
            F.lit("table").alias("source_type"),
            F.trim(
                F.concat_ws(
                    " ",
                    F.coalesce(F.col("t.title"), F.lit("")),
                    F.array_join(
                        F.transform("t.cells", lambda c: c["text"]), " "
                    ),
                )
            ).alias("chunk_text"),
        )
        .filter(F.length("chunk_text") > 0)
    )
    figures = (
        body.select("url", "page_no", F.explode("figures").alias("f"))
        .select(
            "url",
            "page_no",
            F.col("f.figure_index").cast("long").alias("chunk_id"),
            F.lit("figure").alias("source_type"),
            F.trim(
                F.concat_ws(
                    " ",
                    F.coalesce(F.col("f.caption"), F.lit("")),
                    F.coalesce(F.col("f.description"), F.lit("")),
                )
            ).alias("chunk_text"),
        )
        .filter(F.length("chunk_text") > 0)
    )
    return pg.unionByName(tables).unionByName(figures)
