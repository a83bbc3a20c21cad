"""Explicit StructTypes for every stage table (SURVEY.md §1.2).

The reference's MySQL DDL (load_to_db.py:157-254) and per-page JSON
payload (structured_extract.py:487-501) map onto these; ids are
content-derived (url, page_no, index) — no AUTO_INCREMENT and no
monotonically_increasing_id (deterministic under retries).
"""

from pyspark.sql import types as T

BBOX = T.StructType(
    [
        T.StructField("left", T.DoubleType()),
        T.StructField("right", T.DoubleType()),
        T.StructField("top", T.DoubleType()),
        T.StructField("bottom", T.DoubleType()),
    ]
)

CELL = T.StructType(
    [
        T.StructField("row", T.IntegerType()),
        T.StructField("col", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("row_span", T.IntegerType()),
        T.StructField("col_span", T.IntegerType()),
        T.StructField("row_header", T.BooleanType()),
        T.StructField("column_header", T.BooleanType()),
    ]
)

TABLE = T.StructType(
    [
        T.StructField("table_index", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("bbox", BBOX),
        T.StructField("cells", T.ArrayType(CELL)),
    ]
)

FIGURE = T.StructType(
    [
        T.StructField("figure_index", T.IntegerType()),
        T.StructField("caption", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("bbox", BBOX),
    ]
)

BLOCK = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("bbox", BBOX),
    ]
)

# input table (BASELINE.json input_hint)
INPUT = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

# Stage 1 output (one row per page; reference page_payload
# structured_extract.py:487-501 + pages DDL load_to_db.py:177-191)
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType()),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("md", T.StringType()),            # raw markdown (pre-strip)
        T.StructField("blocks", T.ArrayType(BLOCK)),
        T.StructField("tables", T.ArrayType(TABLE)),
        T.StructField("figures", T.ArrayType(FIGURE)),
        T.StructField("page_w", T.DoubleType()),
        T.StructField("page_h", T.DoubleType()),
        T.StructField("glyph_coverage", T.DoubleType()),
        T.StructField("image_coverage", T.DoubleType()),
        T.StructField("ocr_triggered", T.BooleanType()),
        T.StructField("ocr_payload", T.BinaryType()),   # undecoded scan bytes
        T.StructField("visual_density", T.DoubleType()),
        T.StructField("has_tables", T.BooleanType()),
        T.StructField("has_figures", T.BooleanType()),
        T.StructField("needs_review", T.BooleanType()),
    ]
)

# Stage 3 output for OCR-routed pages
OCR_TEXT = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("ocr_text", T.StringType()),
    ]
)

# Stage 2+3 merged: final per-page text
PAGE_TEXT = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("page_text", T.StringType()),
        T.StructField("ocr_triggered", T.BooleanType()),
    ]
)

# document-level extracted text (north_rule per-row invariant target)
DOC_TEXT = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("extracted_text", T.StringType()),
    ]
)

# Stage 5 chunks (north_star shape)
CHUNKS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("span_start", T.IntegerType(), False),
        T.StructField("span_end", T.IntegerType(), False),
        T.StructField("chunk_text", T.StringType(), False),
    ]
)

# vector-DB chunks: page_text spans plus table and figure text, tagged
# by source_type (reference build_vector_db.py:473-527)
TYPED_CHUNKS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("source_type", T.StringType(), False),
        T.StructField("chunk_text", T.StringType(), False),
    ]
)

# per-partition lineage/metrics (north_star; FIXTURES.md §3)
METRICS = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("urls_in", T.LongType()),
        T.StructField("urls_ok", T.LongType()),
        T.StructField("pages_out", T.LongType()),
        T.StructField("ocr_triggered", T.LongType()),
        T.StructField("tables_found", T.LongType()),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("run_id", T.StringType()),
    ]
)
