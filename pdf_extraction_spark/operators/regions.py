"""Stage 4 — REGIONS: page rows -> relational star tables.

Replaces the reference's MySQL load (load_to_db.py:157-493): explode
nested tables/cells/figures into `doc_tables`, `table_cells`,
`doc_figures` DataFrames with content-derived keys (url, page_no,
index) — no AUTO_INCREMENT ids.

Cell enrichment reproduces the reference's parsing exactly, as
Catalyst expressions (no Python):
  * unit inference over header rows (A5, load_to_db.py:108-126)
  * numeric value/unit/content_type parse (F12, load_to_db.py:129-154)
  * number-token set diff between the structured cells and the page's
    rendered table rows — the dual-extraction cross-check
    (A4/SO1, table_diff.py:14-48)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

NUM_RE = r"^([-+]?[\d,]+(?:\.\d+)?)\s*(.*)$"
# reference table_diff.py:14
TOKEN_RE = r"[-+]?\d+(?:,\d{3})*(?:\.\d+)?%?"
# reference load_to_db.py:38-41
UNIT_PAREN_RE = r"\(단위[:：]?\s*([^)]+)\)"
UNIT_DIRECT_RE = r"단위[:：]\s*([^\s)]+)"
UNIT_SUFFIX_RE = r"\(([^)\d]{1,10})\)\s*$"
UNIT_VALID_RE = r"[A-Za-z가-힣%°℃/·]"


def doc_tables(pages: DataFrame) -> DataFrame:
    """(url, page_no, table_index, title, bbox, n_cells)."""
    t = pages.filter(F.col("page_no") > 0).select(
        "url", "page_no", F.explode("tables").alias("t")
    )
    return t.select(
        "url",
        "page_no",
        F.col("t.table_index").alias("table_index"),
        F.col("t.title").alias("title"),
        F.col("t.bbox").alias("bbox"),
        F.size("t.cells").alias("n_cells"),
    )


def _unit_hint(col):
    """Catalyst twin of extract_unit_hint (load_to_db.py:90-105):
    paren form, direct form, then suffix form with charset check."""
    text = F.trim(col)
    paren = F.trim(F.regexp_extract(text, UNIT_PAREN_RE, 1))
    direct = F.trim(F.regexp_extract(text, UNIT_DIRECT_RE, 1))
    suffix = F.trim(F.regexp_extract(text, UNIT_SUFFIX_RE, 1))
    suffix_ok = (
        (F.length(suffix) > 0)
        & (F.length(suffix) <= 12)
        & (F.length(F.regexp_extract(suffix, UNIT_VALID_RE, 0)) > 0)
    )
    return F.when(paren != "", paren).when(direct != "", direct).when(
        suffix_ok, suffix
    )


def table_units(cells: DataFrame) -> DataFrame:
    """A5 unit inference (load_to_db.py:108-126) over the first 3 rows:
    one global unit per table + first unit per header column."""
    head = cells.filter(F.col("row") < 3).withColumn(
        "unit_hint", _unit_hint(F.col("content"))
    ).filter(F.col("unit_hint").isNotNull() & (F.trim("content") != ""))
    is_global = F.contains(F.col("content"), F.lit("단위")) & (
        ~F.col("column_header")
        | (F.length(F.trim("content")) <= F.length("unit_hint") + 6)
    )
    glob = (
        head.filter(is_global)
        .groupBy("url", "page_no", "table_index")
        .agg(F.min_by("unit_hint", F.struct("row", "col")).alias("global_unit"))
    )
    col_units = (
        head.filter(~is_global & F.col("column_header"))
        .groupBy("url", "page_no", "table_index", "col")
        .agg(F.min_by("unit_hint", F.struct("row")).alias("column_unit"))
    )
    return glob, col_units


def table_cells(pages: DataFrame) -> DataFrame:
    """Exploded, enriched cells (table_cells DDL, load_to_db.py:214-235):
    numeric_value DECIMAL(20,4), unit (cell > column > global), content_type."""
    c = (
        pages.filter(F.col("page_no") > 0)
        .select("url", "page_no", F.explode("tables").alias("t"))
        .select(
            "url", "page_no",
            F.col("t.table_index").alias("table_index"),
            F.explode("t.cells").alias("c"),
        )
        .select(
            "url", "page_no", "table_index",
            F.col("c.row").alias("row"),
            F.col("c.col").alias("col"),
            F.col("c.text").alias("content"),
            F.col("c.row_span").alias("row_span"),
            F.col("c.col_span").alias("col_span"),
            F.col("c.row_header").alias("row_header"),
            F.col("c.column_header").alias("column_header"),
        )
    )
    glob, col_units = table_units(c)
    key = ["url", "page_no", "table_index"]
    c = c.join(glob, key, "left").join(col_units, key + ["col"], "left")

    num_str = F.regexp_extract(F.trim("content"), NUM_RE, 1)
    rest = F.trim(F.regexp_extract(F.trim("content"), NUM_RE, 2))
    unit_cell = F.substring(rest, 1, 50)
    numeric = F.expr(
        "try_cast(replace(regexp_extract(trim(content), '{}', 1), ',', '') as decimal(20,4))".format(
            NUM_RE.replace("\\", "\\\\")  # SQL string literal re-escaping
        )
    )
    fallback = F.coalesce(F.col("column_unit"), F.col("global_unit"))
    return c.select(
        "url", "page_no", "table_index", "row", "col", "content",
        "row_span", "col_span", "row_header", "column_header",
        F.when(numeric.isNotNull(), numeric).alias("numeric_value"),
        F.when(
            numeric.isNotNull(),
            F.when(F.length(unit_cell) > 0, unit_cell).otherwise(fallback),
        ).alias("unit"),
        F.when(numeric.isNotNull(), F.lit("number"))
        .otherwise(F.lit("text"))
        .alias("content_type"),
    )


def doc_figures(pages: DataFrame) -> DataFrame:
    """(url, page_no, figure_index, caption, description, bbox)."""
    f = pages.filter(F.col("page_no") > 0).select(
        "url", "page_no", F.explode("figures").alias("f")
    )
    return f.select(
        "url", "page_no",
        F.col("f.figure_index").alias("figure_index"),
        F.col("f.caption").alias("caption"),
        F.col("f.description").alias("description"),
        F.col("f.bbox").alias("bbox"),
    )


def number_diff(pages: DataFrame) -> DataFrame:
    """A4/SO1 dual-extraction cross-check (table_diff.py:42-48): number
    tokens from structured cells vs from the page markdown's rendered
    table rows ('a | b | c' lines), per table page.  Both directions of
    the normalized set difference; a clean pipeline yields empty arrays."""
    base = pages.filter((F.col("page_no") > 0) & (F.size("tables") > 0))
    cell_nums = base.select(
        "url", "page_no",
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.flatten(
                        F.transform(
                            "tables",
                            lambda t: F.flatten(
                                F.transform(
                                    t["cells"],
                                    lambda c: F.regexp_extract_all(
                                        c["text"], F.lit(TOKEN_RE), F.lit(0)
                                    ),
                                )
                            ),
                        )
                    ),
                    lambda tok: F.replace(tok, F.lit(","), F.lit("")),
                )
            )
        ).alias("doc_nums"),
    )
    md_rows = base.select(
        "url", "page_no",
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.flatten(
                        F.transform(
                            F.filter(
                                F.split("md", "\n"),
                                lambda line: F.contains(line, F.lit(" | ")),
                            ),
                            lambda line: F.regexp_extract_all(
                                line, F.lit(TOKEN_RE), F.lit(0)
                            ),
                        )
                    ),
                    lambda tok: F.replace(tok, F.lit(","), F.lit("")),
                )
            )
        ).alias("md_nums"),
    )
    j = cell_nums.join(md_rows, ["url", "page_no"])
    return j.select(
        "url", "page_no",
        F.array_except("doc_nums", "md_nums").alias("only_in_doc"),
        F.array_except("md_nums", "doc_nums").alias("only_in_ocr"),
    )
