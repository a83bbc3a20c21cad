"""Stage 1 — EXTRACT: binary payloads -> page rows.

Spark-first re-expression of the reference's per-PDF extraction loop
(structured_extract.py:571-663, run per file via subprocess).

Skew defense (north_star "salted repartitioning on url-hash to defeat
giant-PDF skew"), with the page split done entirely JVM-side:

* **split (Catalyst)** — format sniff + page split as column
  expressions: the SPDF container keeps one JSON record per page
  joined by the RS byte, so ``split``/``posexplode`` turns a
  10k-page document into 10k independent work units without touching
  Python (the reference's own page-range chunking,
  structured_extract.py:140-154, justifies page-level parallelism).
* **repartition** on ``xxhash64(url, page_no)`` — page units spread
  uniformly across the cluster regardless of document size.
* **layout (mapInArrow)** — the heavy glyph->line->block analysis per
  page unit (operators/layout.py), vectorized numpy inside Arrow
  batches.  This is the only Python stage in the extraction path.
  Arrow-native in AND out: inputs are read straight off the record
  batch and outputs build with RecordBatch.from_pylist, skipping the
  pandas materialization mapInPandas pays in both directions.

Each output row carries (partition_id, bytes_in, wall_ms) so the
pipeline aggregates the per-partition lineage/metrics table
(north_star) without a second pass.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..constants import SPDF_MAGIC
from ..schemas import PAGES

PAGES_EXT = T.StructType(
    PAGES.fields
    + [
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        # md5 of the raw input payload, computed JVM-side on the same
        # scan that feeds layout: the incremental MERGE's change
        # detector reads it from the committed pages stage instead of
        # re-scanning the input corpus (one full extra scan at 100 TB)
        T.StructField("content_hash", T.StringType()),
    ]
)

_MAGIC = SPDF_MAGIC.decode()


def host_col() -> Column:
    """The url's host: the authority after the scheme, with or without
    a path after it (``http://b.example`` -> ``b.example``)."""
    return F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1)


def split_pages(input_df: DataFrame) -> DataFrame:
    """(url, html) -> one row per page unit, all in Catalyst:
    (url, host, page_no, kind, payload string, bytes_in)."""
    s = F.expr("try_cast(html as string)")  # lenient UTF-8 (U+FFFD on bad bytes)
    is_spdf = F.startswith(s, F.lit(_MAGIC))
    is_html = (F.startswith(F.ltrim(s), F.lit("<"))) | (
        F.contains(F.lower(F.substring(s, 1, 512)), F.lit("<html"))
    )
    spdf_units = F.transform(
        F.split(F.substring(s, len(_MAGIC) + 1, 2_000_000_000), "\x1e"),
        lambda rec, i: F.struct(
            (i + 1).cast("int").alias("page_no"),
            F.lit("spdf").alias("kind"),
            rec.alias("payload"),
        ),
    )
    html_unit = F.array(
        F.struct(
            F.lit(1).cast("int").alias("page_no"),
            F.lit("html").alias("kind"),
            s.alias("payload"),
        )
    )
    empty_unit = F.array(
        F.struct(
            F.lit(0).cast("int").alias("page_no"),
            F.lit("empty").alias("kind"),
            F.lit(None).cast("string").alias("payload"),
        )
    )
    units = (
        F.when(s.isNull() | (F.length(F.coalesce(s, F.lit(""))) == 0), empty_unit)
        .when(is_spdf, spdf_units)
        .when(is_html, html_unit)
        .otherwise(empty_unit)
    )
    return input_df.select(
        "url",
        host_col().alias("host"),
        F.md5(F.coalesce("html", F.lit(b""))).alias("content_hash"),
        F.explode(units).alias("u"),
    ).select(
        "content_hash",
        "url",
        "host",
        F.col("u.page_no").alias("page_no"),
        F.col("u.kind").alias("kind"),
        F.col("u.payload").alias("payload"),
        F.octet_length(F.encode(F.coalesce("u.payload", F.lit("")), "UTF-8"))
        .cast("long")
        .alias("bytes_in"),
    )


def _page_to_row(page: dict, url: str, host: str) -> dict:
    tables = [
        {
            "table_index": ti,
            "title": t.get("title"),
            "bbox": t.get("bbox"),
            "cells": t.get("cells") or [],
        }
        for ti, t in enumerate(page.get("tables") or [])
    ]
    figures = [
        {
            "figure_index": fi,
            "caption": f.get("caption"),
            "description": f.get("description"),
            "bbox": f.get("bbox"),
        }
        for fi, f in enumerate(page.get("figures") or [])
    ]
    return {
        "url": url,
        "host": host,
        "page_no": int(page["page_no"]),
        "md": "\n".join(page["md_lines"]),
        "blocks": page.get("blocks") or [],
        "tables": tables,
        "figures": figures,
        "page_w": float(page.get("page_w") or 0.0),
        "page_h": float(page.get("page_h") or 0.0),
        "glyph_coverage": float(page.get("glyph_coverage") or 0.0),
        "image_coverage": float(page.get("image_coverage") or 0.0),
        "ocr_triggered": bool(page.get("ocr_triggered")),
        "ocr_payload": page.get("ocr_payload"),
        "visual_density": float(page.get("visual_density") or 0.0),
        "has_tables": bool(page.get("has_tables")),
        "has_figures": bool(page.get("has_figures")),
        "needs_review": bool(page.get("needs_review")),
    }


def _empty_doc_row(url: str, host: str) -> dict:
    return {
        "url": url, "host": host, "page_no": 0, "md": None, "blocks": [],
        "tables": [], "figures": [], "page_w": 0.0, "page_h": 0.0,
        "glyph_coverage": 0.0, "image_coverage": 0.0, "ocr_triggered": False,
        "ocr_payload": None, "visual_density": 0.0, "has_tables": False,
        "has_figures": False, "needs_review": False,
    }


def _arrow_out_schema():
    """PAGES_EXT as a pyarrow schema (cached): mapInArrow batches are
    built directly with pa.RecordBatch.from_pylist — the nested
    blocks/tables/figures structs convert in C++ instead of taking the
    pandas object-column detour both mapInPandas directions pay."""
    global _ARROW_SCHEMA
    if _ARROW_SCHEMA is None:
        from pyspark.sql.pandas.types import to_arrow_schema

        _ARROW_SCHEMA = to_arrow_schema(PAGES_EXT)
    return _ARROW_SCHEMA


_ARROW_SCHEMA = None


def _emit_batches(batches, pid, t0):
    import pyarrow as pa

    schema = _arrow_out_schema()
    wall_ms = int((time.monotonic() - t0) * 1000)
    for rows in batches:
        for row in rows:
            row["partition_id"] = pid
            row["wall_ms"] = wall_ms
        yield pa.RecordBatch.from_pylist(rows, schema=schema)


def _layout_fn(it):
    """Page-unit layout (big-doc path), Arrow-native (mapInArrow)."""
    from pyspark import TaskContext

    from .layout import extract_html_unit, extract_spdf_unit

    pid = TaskContext.get().partitionId() if TaskContext.get() else -1
    t0 = time.monotonic()
    batches = []
    for rb in it:
        rows = []
        cols = [rb.column(rb.schema.get_field_index(n)).to_pylist()
                for n in ("url", "host", "page_no", "kind", "payload",
                          "bytes_in", "content_hash")]
        for url, host, page_no, kind, payload, bytes_in, chash in zip(*cols):
            if kind == "spdf":
                row = _page_to_row(extract_spdf_unit(payload, int(page_no)), url, host)
            elif kind == "html":
                row = _page_to_row(extract_html_unit(payload), url, host)
            else:
                row = _empty_doc_row(url, host)
            row["bytes_in"] = int(bytes_in)
            row["content_hash"] = chash
            rows.append(row)
        if rows:
            batches.append(rows)
    yield from _emit_batches(batches, pid, t0)


def _layout_docs_fn(it):
    """Whole-document layout for the small-doc path (no page shuffle):
    one input row -> N page rows.  Arrow-native (mapInArrow)."""
    from pyspark import TaskContext

    from .layout import extract_payload

    pid = TaskContext.get().partitionId() if TaskContext.get() else -1
    t0 = time.monotonic()
    batches = []
    for rb in it:
        rows = []
        cols = [rb.column(rb.schema.get_field_index(n)).to_pylist()
                for n in ("url", "host", "html", "content_hash")]
        for url, host, payload, chash in zip(*cols):
            raw = payload if payload is not None else b""
            pages = extract_payload(raw)
            if not pages:
                row = _empty_doc_row(url, host)
                row["bytes_in"] = len(raw)
                row["content_hash"] = chash
                rows.append(row)
                continue
            per_page_bytes = len(raw) // max(1, len(pages))
            for page in pages:
                row = _page_to_row(page, url, host)
                row["bytes_in"] = per_page_bytes
                row["content_hash"] = chash
                rows.append(row)
        if rows:
            batches.append(rows)
    yield from _emit_batches(batches, pid, t0)


def extract_stage(input_df: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """(url, html) -> page rows (PAGES_EXT schema).

    Size-gated skew defense: documents <= SPLIT_BYTES_THRESHOLD (the
    overwhelming majority of bytes in a web corpus) are laid out where
    they sit — zero payload shuffle.  Oversized documents split into
    page units and scatter on xxhash64(url, page_no), so one 10k-page
    document cannot stall a partition.  One empty sentinel row
    (page_no=0) per unparseable/empty document keeps per-url lineage
    intact for the metrics/resume layers.
    """
    from ..constants import SPLIT_BYTES_THRESHOLD

    base = input_df.select(
        "url", host_col().alias("host"), "html",
        F.octet_length(F.coalesce("html", F.lit(b""))).alias("_nbytes"),
    )
    # no shuffle on the small path: parallelism comes from the input
    # splits (spark.sql.files.maxPartitionBytes is sized down in
    # session.py so scan partitions are fine-grained)
    small = (
        base.filter(F.col("_nbytes") <= SPLIT_BYTES_THRESHOLD)
        .select(
            "url", "host", "html",
            F.md5(F.coalesce("html", F.lit(b""))).alias("content_hash"),
        )
        .mapInArrow(_layout_docs_fn, PAGES_EXT)
    )
    # Scatter on xxhash64(url, page_no) WITHOUT a pinned partition
    # count: the round-5 form pinned defaultParallelism*16 (512 tasks on
    # local[32]) for wave smoothing, which cost ~3s of empty-task
    # overhead per run when the oversized subset is small (1 doc of
    # 8000 in the bench corpus; each mapInArrow task pays a Python
    # worker round-trip even with zero rows).  With no explicit count
    # the exchange uses spark.sql.shuffle.partitions (cluster-sized
    # conf) AND stays AQE-coalescible, so the task count follows the
    # ACTUAL oversized-byte volume at any scale.
    big_units = split_pages(
        base.filter(F.col("_nbytes") > SPLIT_BYTES_THRESHOLD).select("url", "html")
    )
    if n_partitions:
        big_units = big_units.repartition(n_partitions, F.xxhash64("url", "page_no"))
    else:
        big_units = big_units.repartition(F.xxhash64("url", "page_no"))
    big = big_units.mapInArrow(_layout_fn, PAGES_EXT)
    return small.unionByName(big)
