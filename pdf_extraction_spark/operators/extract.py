"""Stage 1 — EXTRACT: binary payloads -> page rows.

Spark-first re-expression of the reference's per-PDF extraction loop
(structured_extract.py:571-663, run per file via subprocess).

One kernel over payload units:

* **layout** — ``_layout_task``'s row function lays out each unit
  with ``layout.extract_payload``, the format sniff the oracle also
  uses, and the heavy glyph->line->block analysis (operators/layout.py,
  numpy).  It runs through ``rowmap.map_rows``, the engine's one
  Arrow-native row kernel, and is the only Python node in the plan.
* **skew defense** (north_star "salted repartitioning on url-hash to
  defeat giant-PDF skew") — an SPDF payload over SPLIT_BYTES_THRESHOLD
  is split in Catalyst: the container keeps one JSON record per page
  joined by the RS byte, so ``split``/``posexplode`` turns a 10k-page
  document into 10k one-page units without touching Python (the
  reference's own page-range chunking, structured_extract.py:140-154,
  justifies page-level parallelism), and a repartition on
  ``xxhash64(url, first_page)`` spreads them uniformly.  Every other
  document is one unit, laid out where it sits.
* **task sizing** — the payload scan is coalesced (narrow, no shuffle)
  to one partition per core before the size gate, so the kernel pays
  one Python-worker round-trip per core rather than one per scan
  split, and pages commits that many files for later stages to re-read.

Each output row carries (partition_id, bytes_in, wall_ms) so the
pipeline aggregates the per-partition lineage/metrics table
(north_star) without a second pass.  wall_ms is the task's running
layout wall, so no task holds more than one Arrow batch of page rows.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..constants import SPDF_MAGIC
from ..schemas import PAGES
from .rowmap import map_rows

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


def host_col() -> Column:
    """The url's host: the authority after the scheme, with or without
    a path after it (``http://b.example`` -> ``b.example``)."""
    return F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1)


def content_hash_col() -> Column:
    """md5 of the raw ``html`` payload, a null payload hashed as empty,
    so the incremental change detector's hash of an unchanged null
    payload equals the one stamped on its committed pages."""
    return F.md5(F.coalesce("html", F.lit(b"")))


def _page_to_row(page: dict, url: str, host: str, first_page: int) -> dict:
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
        "page_no": int(page["page_no"]) + first_page - 1,
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


def _layout_task():
    """Per-task layout row function over a payload unit (url, host,
    content_hash, payload, first_page, bytes_in).  Each unit is laid
    out by ``layout.extract_payload``; its pages are renumbered from the
    unit's ``first_page`` and share its ``bytes_in`` evenly, and a unit
    with no pages yields one empty sentinel row (page_no=0) that carries
    all of it.  ``wall_ms`` runs from the task's start, so its max over
    a partition is the partition's layout wall."""
    from pyspark import TaskContext

    from .layout import extract_payload

    pid = TaskContext.get().partitionId() if TaskContext.get() else -1
    t0 = time.monotonic()

    def unit_rows(url, host, content_hash, payload, first_page, bytes_in):
        rows = [
            _page_to_row(page, url, host, first_page)
            for page in extract_payload(payload)
        ] or [_empty_doc_row(url, host)]
        wall_ms = int((time.monotonic() - t0) * 1000)
        for row in rows:
            row.update(partition_id=pid, bytes_in=bytes_in // len(rows),
                       wall_ms=wall_ms, content_hash=content_hash)
        return rows

    return unit_rows


def extract_stage(input_df: DataFrame) -> DataFrame:
    """(url, html) -> page rows (PAGES_EXT schema).

    One kernel over payload units, one task per core: the payload scan
    is coalesced to defaultParallelism partitions (no shuffle) ahead of
    the size gate.  A document is one unit, laid out in its coalesced
    scan task (no payload shuffle), unless it is an SPDF payload
    over SPLIT_BYTES_THRESHOLD: Catalyst splits that one at the RS byte
    into one-page SPDF units (magic put back in front, first_page = the
    record's page number) that scatter on xxhash64(url, first_page), so
    one 10k-page document cannot stall a partition.  The byte-exact
    magic prefix is the only format test in Catalyst; every other sniff
    is ``layout.extract_payload``'s, the oracle's own rule.  bytes_in is
    a page's even share of its document's payload bytes, and one empty
    sentinel row (page_no=0) carrying the whole payload keeps per-url
    lineage for an unparseable/empty document.
    """
    from ..constants import SPLIT_BYTES_THRESHOLD

    keys = ("url", "host", "content_hash")
    # narrow coalesce: one layout task per core, not one per scan split
    base = input_df.select(
        "url", host_col().alias("host"),
        content_hash_col().alias("content_hash"),
        F.col("html").alias("payload"),
        F.octet_length(F.coalesce("html", F.lit(b""))).cast("long").alias("bytes_in"),
    ).coalesce(input_df.sparkSession.sparkContext.defaultParallelism)
    split = (F.col("bytes_in") > SPLIT_BYTES_THRESHOLD) & F.startswith(
        "payload", F.lit(SPDF_MAGIC)
    )
    docs = base.filter(~split).select(
        *keys, "payload", F.lit(1).alias("first_page"), "bytes_in"
    )
    # no pinned partition count on the scatter: the exchange uses
    # spark.sql.shuffle.partitions and stays AQE-coalescible, so its
    # task count follows the actual oversized-byte volume at any scale
    body = F.substring(
        F.expr("try_cast(payload as string)"), len(SPDF_MAGIC) + 1, 2_000_000_000
    )
    page_units = (
        base.filter(split)
        .select(*keys, "bytes_in", F.split(body, "\x1e").alias("recs"))
        .select(
            *keys,
            F.expr("bytes_in div size(recs)").alias("bytes_in"),
            F.posexplode("recs").alias("i", "rec"),
        )
        .select(
            *keys,
            F.concat(F.lit(SPDF_MAGIC), F.encode("rec", "UTF-8")).alias("payload"),
            (F.col("i") + 1).cast("int").alias("first_page"),
            "bytes_in",
        )
        .repartition(F.xxhash64("url", "first_page"))
    )
    return map_rows(docs.unionByName(page_units), PAGES_EXT, _layout_task)
