"""Stage 3 — OCR FALLBACK: batched pass over OCR-flagged pages only.

Mirrors the dataflow shape of the reference's RapidOCR stage
(table_ocr.py:125-133, run over flagged artifacts with model init
amortized per batch): filter the tiny ocr_triggered subset, decode it
through the engine's one Arrow row kernel (``rowmap.map_rows``, whose
per-task setup is where a real deployment would load the OCR model),
and union the text back.

The character-recognition step itself is the deterministic stand-in
mandated by the sandbox (north_rule allows a rule-based OCR pass): the
scan payload carries an ``OCRTEXT:`` marker the decoder reads.  The
Spark-side plumbing — subset routing, Arrow batching, schema, rejoin —
is the real thing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..schemas import OCR_TEXT
from .rowmap import map_rows


def _ocr_task():
    # per-task heavyweight init would happen here (model load);
    # the stand-in decoder needs none.
    def decode(url, page_no, payload):
        text = ""
        if payload is not None and payload.startswith(b"OCRTEXT:"):
            text = payload[len(b"OCRTEXT:"):].decode("utf-8", errors="replace")
        yield {"url": url, "page_no": page_no, "ocr_text": text.strip()}

    return decode


def ocr_stage(pages: DataFrame) -> DataFrame:
    """pages -> (url, page_no, ocr_text) for the flagged subset only."""
    flagged = pages.filter(F.col("ocr_triggered")).select(
        "url", "page_no", "ocr_payload"
    )
    return map_rows(flagged, OCR_TEXT, _ocr_task)


def merge_ocr(page_text: DataFrame, ocr_text: DataFrame) -> DataFrame:
    """Combine the (disjoint) stripped-text rows and OCR-text rows —
    a union, not a join: the two subsets partition the page set, so no
    shuffle is needed (OCR output is never boilerplate-stripped,
    matching the reference where the OCR stage writes its own artifacts,
    table_ocr.py:125-133)."""
    ocr_rows = ocr_text.select(
        "url",
        "page_no",
        F.coalesce("ocr_text", F.lit("")).alias("page_text"),
        F.lit(True).alias("ocr_triggered"),
    )
    return page_text.unionByName(ocr_rows)
