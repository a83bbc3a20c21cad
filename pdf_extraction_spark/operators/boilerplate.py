"""Stage 2 — BOILERPLATE: corpus-level prefix aggregation + strip.

Distributed form of the reference's analyze_batch_patterns + token
reduction (structured_extract.py:53-99,361-381).  The reference scopes
the pattern set per converted batch of one PDF; at web scale the group
is the url's host (SURVEY.md §7.4 item 2) — bounded per-host pattern
sets that broadcast cleanly.

Everything here is Catalyst expressions — zero Python UDFs (north_rule:
no per-row Python).  The normalize_line unescape step
(structured_extract.py:44) is a no-op by construction: both extractors
(HTML parser, SPDF format spec) emit already-unescaped text, so the
JVM-side regex chain is exactly equivalent.

Plan shape: per-page distinct prefix arrays (row-local) -> one
(host, prefix) count shuffle -> HAVING count >= max(3, int(0.2*n_pages))
-> per-host pattern arrays broadcast back -> higher-order line filter
per page row (no line-level shuffle anywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..constants import (
    IMAGE_PLACEHOLDER,
    MIN_NORM_LEN,
    MIN_PATTERN_PAGES,
    PATTERN_PAGE_FRACTION,
    PREFIX_LEN,
)


def normalize_line_col(col):
    """Catalyst twin of oracle.normalize_line / structured_extract.py:41-50:
    digits->N, whitespace collapse, strip, lower (same order)."""
    masked = F.regexp_replace(col, r"\d+", "N")
    collapsed = F.regexp_replace(masked, r"\s+", " ")
    return F.lower(F.trim(collapsed))


def prefix_col(col):
    return F.substring(normalize_line_col(col), 1, PREFIX_LEN)


def boilerplate_patterns(pages: DataFrame) -> DataFrame:
    """pages (url, host, page_no, md, ocr_triggered) ->
    (host, prefix) rows to strip.  A1 (distinct-per-page count) + A2
    (HAVING threshold)."""
    body = pages.filter((F.col("page_no") > 0) & ~F.col("ocr_triggered"))
    page_counts = body.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_pages")
    )
    # distinct-per-page prefix sets computed row-locally (array ops),
    # so the only shuffle is the final (host, prefix) count
    qual_lines = F.filter(
        F.split(F.col("md"), "\n"),
        lambda line: (F.length(F.trim(line)) > 0)
        & ~F.contains(F.lower(line), F.lit(IMAGE_PLACEHOLDER.lower())),
    )
    norms = F.filter(
        F.transform(qual_lines, normalize_line_col),
        lambda n: F.length(n) >= MIN_NORM_LEN,
    )
    prefixes = F.array_distinct(
        F.transform(norms, lambda n: F.substring(n, 1, PREFIX_LEN))
    )
    counts = (
        body.select("host", F.explode(prefixes).alias("prefix"))
        .groupBy("host", "prefix")
        .count()
    )
    return (
        counts.join(page_counts, "host")
        .filter(F.col("n_pages") >= MIN_PATTERN_PAGES)
        .filter(
            F.col("count")
            >= F.greatest(
                F.lit(MIN_PATTERN_PAGES),
                F.floor(F.col("n_pages") * F.lit(PATTERN_PAGE_FRACTION)).cast("long"),
            )
        )
        .select("host", "prefix")
    )


def strip_stage(
    pages: DataFrame,
    patterns: DataFrame | None = None,
    join_strategy: str = "auto",
) -> DataFrame:
    """pages -> (url, page_no, page_text, ocr_triggered) with common
    prefixes removed (never [IMAGE] lines; OCR pages pass through with
    null text — Stage 3 fills them).

    The per-host pattern sets collapse to one array row per host and
    join back on host; the line filter then runs as a higher-order
    array expression per page row (no line-level explode / re-assembly
    shuffle — at 10^12 pages that shuffle would dominate the stage).

    The pattern join carries no hint: AQE converts it to broadcast-hash
    at runtime iff the BUILT pattern side's actual shuffle bytes fit
    under spark.sql.autoBroadcastJoinThreshold (64 MB, session.py), and
    keeps the shuffle join when web-scale host cardinality (10^7-10^8)
    outgrows it.  This replaces a driver-side ``distinct().count()``
    host-cardinality gate — a whole extra job (~1s at 8k docs, a full
    pages-scan at 10^12) — and decides on SIZE (what broadcast actually
    costs) rather than a cardinality proxy.  ``"auto"`` is the only
    ``join_strategy``.

    OCR-flagged pages are excluded here; the OCR stage emits their rows
    and the pipeline unions the two disjoint sets (no merge join)."""
    if join_strategy != "auto":
        raise ValueError(f"unknown join_strategy {join_strategy!r}; only 'auto'")
    if patterns is None:
        patterns = boilerplate_patterns(pages)
    host_patterns = patterns.groupBy("host").agg(
        F.collect_list("prefix").alias("pats")
    )

    base = pages.filter((F.col("page_no") > 0) & ~F.col("ocr_triggered")).select(
        "url", "page_no", "host", "md"
    )
    joined = base.join(host_patterns, "host", "left")

    def keep_line(line):
        is_image = F.contains(F.lower(line), F.lit(IMAGE_PLACEHOLDER.lower()))
        return is_image | ~F.array_contains(F.col("pats"), prefix_col(line))

    cleaned = F.when(
        F.col("pats").isNull(), F.col("md")
    ).otherwise(
        F.array_join(F.filter(F.split(F.col("md"), "\n"), keep_line), "\n")
    )
    return joined.select(
        "url",
        "page_no",
        F.trim(F.coalesce(cleaned, F.lit(""))).alias("page_text"),
        F.lit(False).alias("ocr_triggered"),
    )
