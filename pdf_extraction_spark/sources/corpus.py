"""Deterministic synthetic Common-Crawl-style corpus generator.

Produces the engine's only external input shape (BASELINE.json
``input_hint``): ``(url string, warc_ts timestamp, html binary,
text string, lang string)``.

Payload formats inside the ``html`` binary column:

* **HTML** — real HTML bytes with known main content plus boilerplate
  nav/header/footer, link farms, a ``<table>`` and ``<img>`` tags.
* **SPDF** — our PDF-like serialization (magic ``%SPDF1\\n`` + JSON):
  pages carry glyph *runs* (``[x, y, size, text]``, per-char advance
  ``0.6*size``, PDF coords: y up from bottom), border ``rects`` for
  table grids, and ``images`` (``[x0, y0, x1, y1, b64data]``).  This is
  the shape a real content stream provides and is what the from-scratch
  layout engine (glyph→line→block, XY-cut) consumes — replacing the
  reference's Docling call (structured_extract.py:631-639) with our own
  implementation.

Generation is keyed per document id (``random.Random(f"{seed}:{i}")``)
so any subset/ordering yields identical rows — rows can be generated in
parallel on executors.
"""

from __future__ import annotations

import base64
import json
import random
from datetime import datetime, timedelta, timezone

from ..constants import SPDF_MAGIC

N_HOSTS = 8
LANGS = ["en", "fr", "es", "zh", "de"]
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

WORDS = (
    "spark query data table scan filter join merge sort window batch stream "
    "column row value key hash agg group order part segment carbon emission "
    "energy water waste safety governance climate target scope renewable "
    "report annual metric baseline disclosure assurance supply board audit"
).split()
MULTIBYTE_WORDS = ["온실가스", "배출량", "지속가능", "η-factor", "μ-metric", "données"]

CHAR_ADVANCE = 0.6  # per-char x advance as a fraction of font size
PAGE_W, PAGE_H = 612.0, 792.0
BODY_SIZE = 10.0


def _words(rnd: random.Random, n: int, multibyte_p: float = 0.04) -> list[str]:
    out = []
    for _ in range(n):
        if rnd.random() < multibyte_p:
            out.append(rnd.choice(MULTIBYTE_WORDS))
        else:
            out.append(rnd.choice(WORDS))
    return out


def _sentence(rnd: random.Random, lo: int = 5, hi: int = 11) -> str:
    return " ".join(_words(rnd, rnd.randint(lo, hi)))


def host_of(doc_id: int) -> str:
    return f"src{doc_id % N_HOSTS}.example"


# ---------------------------------------------------------------------------
# SPDF page builders
# ---------------------------------------------------------------------------

def _text_runs_for_line(
    rnd: random.Random, words: list[str], x: float, y: float, size: float
) -> list[list]:
    """Emit one run per word with an inter-word gap wider than the
    word-break threshold, so the layout engine has real work to do."""
    runs = []
    cx = x
    gap = size * 0.6
    for w in words:
        runs.append([round(cx, 2), round(y, 2), size, w])
        cx += len(w) * CHAR_ADVANCE * size + gap
    return runs


def _grid(
    rnd: random.Random, page: dict, top: float, *,
    merged: bool = False, dense: bool = False, n_rows_max: int | None = None,
) -> float:
    """Emit one bordered table grid (title line + rects + cell text);
    ``merged=True`` adds rowspan/colspan cells — one rect covering two
    grid bands, with the swallowed cell emitting neither rect nor text
    (the SPDF twin of HTML rowspan/colspan)."""
    if n_rows_max:
        n_rows = rnd.randint(3, n_rows_max)
    else:
        n_rows = rnd.randint(5, 8) if dense else rnd.randint(3, 5)
    n_cols = rnd.randint(3, 4)
    cell_w, cell_h = (500.0 / n_cols), 22.0
    ty = top - 26.0
    # title line just above the table, horizontally overlapping it
    title_words = _words(rnd, rnd.randint(2, 5))
    page["text"] += _text_runs_for_line(rnd, title_words, 60.0, ty + 8.0, BODY_SIZE)
    headers = ["metric"] + [f"fy{2021 + c}" for c in range(1, n_cols)]
    # merged-cell plan: map (r, c) -> (row_span, col_span); swallowed
    # cells map to None.  Merges only in body rows, never overlapping.
    span: dict[tuple[int, int], tuple[int, int] | None] = {}
    if merged and n_rows >= 3:
        cm = rnd.randrange(0, n_cols - 1)
        span[(1, cm)] = (1, 2)       # colspan pair in row 1
        span[(1, cm + 1)] = None
        if n_rows >= 4:
            rm = rnd.randrange(0, n_cols)
            if (2, rm) not in span:
                span[(2, rm)] = (2, 1)   # rowspan pair rows 2-3
                span[(3, rm)] = None
    for r in range(n_rows):
        for c in range(n_cols):
            sp = span.get((r, c), (1, 1))
            if sp is None:
                continue  # swallowed by a neighbouring span
            rs, cs = sp
            x0 = 50.0 + c * cell_w
            y1 = ty - r * cell_h
            y0 = y1 - rs * cell_h
            page["rects"].append(
                [round(x0, 2), round(y0, 2), round(x0 + cs * cell_w, 2), round(y1, 2)]
            )
            if r == 0:
                txt = headers[c]
                if c == 1 and rnd.random() < 0.5:
                    txt = f"fy2022 (단위: {rnd.choice(['tCO2eq', 'kg', 'MWh', '%'])})"
            elif c == 0:
                txt = " ".join(_words(rnd, 2))
            else:
                val = rnd.randint(1, 99999) + rnd.choice([0, 0.5, 0.25])
                txt = f"{val:,.1f}" if rnd.random() < 0.7 else f"{rnd.randint(1, 99)}%"
            page["text"].append(
                [round(x0 + 4.0, 2), round(y1 - cell_h + 7.0, 2), 8.0, txt]
            )
    return ty - n_rows * cell_h - 30.0


def _spdf_page(
    rnd: random.Random,
    host: str,
    page_no: int,
    total_pages: int,
    *,
    two_column: bool = False,
    with_table: bool = False,
    with_figure: bool = False,
    table_dense: bool = False,
    tiny_figure: bool = False,
    header_figure: bool = False,
    scanned: bool = False,
    scan_text: str | None = None,
    merged_cells: bool = False,
    second_table: bool = False,
) -> dict:
    page: dict = {"w": PAGE_W, "h": PAGE_H, "text": [], "rects": [], "images": []}
    if scanned:
        payload = ("OCRTEXT:" + (scan_text or "")).encode("utf-8")
        page["images"].append(
            [10.0, 10.0, PAGE_W - 10.0, PAGE_H - 10.0,
             base64.b64encode(payload).decode("ascii")]
        )
        return page

    # header (top zone) and footer — identical normalized prefix across the
    # host's pages so the corpus boilerplate detector can find them.
    page["text"] += _text_runs_for_line(
        rnd, f"{host} sustainability report page {page_no} of {total_pages}".split(),
        50.0, PAGE_H - 36.0, 9.0,
    )
    page["text"] += _text_runs_for_line(
        rnd, f"copyright 2024 {host} all rights reserved".split(), 50.0, 28.0, 8.0
    )

    top = PAGE_H - 90.0
    bottom_lim = 60.0

    def paragraphs(x0: float, width: float, y_start: float, y_end: float) -> float:
        y = y_start
        while y > y_end + 40:
            n_lines = rnd.randint(1, 4)
            for _ in range(n_lines):
                if y <= y_end:
                    break
                max_words = max(3, int(width / (7 * CHAR_ADVANCE * BODY_SIZE)))
                ws = _words(rnd, rnd.randint(3, max_words))
                page["text"] += _text_runs_for_line(rnd, ws, x0, y, BODY_SIZE)
                y -= 14.0
            y -= 14.0  # paragraph gap (total 28 > block threshold 18)
        return y

    if two_column:
        paragraphs(50.0, 230.0, top, bottom_lim + 200)
        paragraphs(330.0, 230.0, top, bottom_lim + 200)
        top = bottom_lim + 180
    else:
        top = paragraphs(50.0, 500.0, top, bottom_lim + (340 if (with_table or with_figure) else 0))

    if with_table:
        top = _grid(rnd, page, top, merged=merged_cells, dense=table_dense)
        if second_table:
            # a second, disjoint grid on the same page: two rect
            # components -> two tables in detection order
            top = _grid(rnd, page, top, merged=False, n_rows_max=3)

    if with_figure:
        fh = 180.0 if not table_dense else 120.0
        y1 = max(bottom_lim + fh + 40.0, top)
        desc = "FIG:" + _sentence(rnd, 4, 8)
        page["images"].append(
            [70.0, round(y1 - fh, 2), 470.0, round(y1, 2),
             base64.b64encode(desc.encode("utf-8")).decode("ascii")]
        )
        # caption block just below the figure
        page["text"] += _text_runs_for_line(
            rnd, (["figure", "caption:"] + _words(rnd, 3)), 80.0, y1 - fh - 14.0, 9.0
        )
    if tiny_figure:  # < 1% of page area -> must be skipped as icon (F2)
        page["images"].append(
            [500.0, 700.0, 512.0, 712.0,
             base64.b64encode(b"FIG:icon").decode("ascii")]
        )
    if header_figure:  # sits in top 12% zone -> skipped (F3)
        page["images"].append(
            [400.0, PAGE_H - 60.0, 560.0, PAGE_H - 12.0,
             base64.b64encode(b"FIG:logo").decode("ascii")]
        )
    return page


def _spdf_doc(rnd: random.Random, doc_id: int, *, giant: bool = False) -> bytes:
    host = host_of(doc_id)
    n_pages = rnd.randint(2, 5) if not giant else 60
    pages = []
    for p in range(1, n_pages + 1):
        scanned = (not giant) and rnd.random() < 0.08 and n_pages >= 3 and p > 1
        pages.append(
            _spdf_page(
                rnd, host, p, n_pages,
                two_column=rnd.random() < 0.25,
                with_table=rnd.random() < 0.4,
                with_figure=rnd.random() < 0.35,
                table_dense=rnd.random() < 0.1,
                tiny_figure=rnd.random() < 0.15,
                header_figure=rnd.random() < 0.15,
                scanned=scanned,
                scan_text="scanned page content " + _sentence(rnd, 8, 16),
                merged_cells=rnd.random() < 0.3,
                second_table=rnd.random() < 0.15,
            )
        )
    # container: magic + per-page JSON records joined by the RS byte —
    # page splitting is then a JVM-side split/posexplode (no Python)
    body = "\x1e".join(json.dumps(p, ensure_ascii=False) for p in pages)
    return SPDF_MAGIC + body.encode("utf-8")


# ---------------------------------------------------------------------------
# HTML builder
# ---------------------------------------------------------------------------

def _html_doc(rnd: random.Random, doc_id: int) -> bytes:
    host = host_of(doc_id)
    nav = " ".join(
        f'<a href="/{w}">{w}</a>' for w in _words(rnd, 6, multibyte_p=0)
    )
    paras = []
    for _ in range(rnd.randint(3, 8)):
        paras.append(f"<p>{_sentence(rnd, 12, 30)}.</p>")
    table_rows = []
    if rnd.random() < 0.5:
        table_rows.append(
            "<tr><th>metric</th><th>fy2022</th><th>fy2023</th></tr>"
        )
        spanny = rnd.random() < 0.4
        for i in range(rnd.randint(2, 5)):
            a = rnd.randint(1, 9999)
            if spanny and i == 0:
                # merged header-ish body row: colspan swallows a cell
                table_rows.append(
                    f"<tr><td>{' '.join(_words(rnd, 2))}</td>"
                    f'<td colspan="2">{a:,} combined</td></tr>'
                )
            elif spanny and i == 1:
                table_rows.append(
                    f'<tr><td rowspan="2">{" ".join(_words(rnd, 2))}</td>'
                    f"<td>{a:,}</td><td>{a + rnd.randint(1, 50):,} kg</td></tr>"
                )
            else:
                table_rows.append(
                    f"<tr><td>{' '.join(_words(rnd, 2))}</td>"
                    f"<td>{a:,}</td><td>{a + rnd.randint(1, 50):,} kg</td></tr>"
                )
    table = f"<table>{''.join(table_rows)}</table>" if table_rows else ""
    # nested block structure: section > div > ul/li content (boilerplate
    # strip must keep list text, flushed per li block)
    nested = ""
    if rnd.random() < 0.5:
        items = "".join(f"<li>{_sentence(rnd, 8, 14)}.</li>" for _ in range(rnd.randint(2, 4)))
        nested = (
            f"<section><h3>{_sentence(rnd, 2, 4)}</h3>"
            f"<div><ul>{items}</ul>"
            f"<blockquote>{_sentence(rnd, 10, 18)} {rnd.choice(MULTIBYTE_WORDS)}"
            f" {_sentence(rnd, 4, 8)}.</blockquote></div></section>"
        )
    img = (
        f'<img src="/f{doc_id}.png" alt="{_sentence(rnd, 3, 6)}">'
        if rnd.random() < 0.4
        else ""
    )
    linkfarm = " ".join(
        f'<a href="/t/{w}{i}">{w} {i}</a>' for i, w in enumerate(_words(rnd, 10, multibyte_p=0))
    )
    html = (
        "<!DOCTYPE html><html><head>"
        f"<title>{host} report {doc_id}</title>"
        "<style>body{margin:0}</style><script>var x=1;</script></head><body>"
        f"<nav>{nav}</nav><header><h1>{host} annual report</h1></header>"
        f"<main><h2>{_sentence(rnd, 3, 6)}</h2>{''.join(paras)}{nested}{table}{img}"
        f"<div class='tags'>{linkfarm}</div></main>"
        f"<footer>copyright 2024 {host} — terms privacy contact</footer>"
        "</body></html>"
    )
    return html.encode("utf-8")


# ---------------------------------------------------------------------------
# corpus rows
# ---------------------------------------------------------------------------

def generate_row(doc_id: int, seed: int = 42) -> dict:
    """One deterministic corpus row (independent of all other rows)."""
    rnd = random.Random(f"{seed}:{doc_id}")
    host = host_of(doc_id)
    kind_roll = rnd.random()
    # fixed edge-case slots at small ids so every scale includes them
    if doc_id == 3:
        payload = b""  # empty payload
    elif doc_id == 5:
        payload = b"   \n\t  \n"  # whitespace-only, no recognizable format
    elif doc_id == 7:
        payload = _spdf_doc(rnd, doc_id, giant=True)  # skew probe
    elif doc_id == 11:
        # duplicate content: identical to doc 12's payload (same rnd key)
        payload = _html_doc(random.Random(f"{seed}:dup"), 11)
    elif doc_id == 12:
        payload = _html_doc(random.Random(f"{seed}:dup"), 11)
    elif kind_roll < 0.55:
        payload = _html_doc(rnd, doc_id)
    else:
        payload = _spdf_doc(rnd, doc_id)

    return {
        "url": f"https://{host}/doc{doc_id:06d}",
        "warc_ts": EPOCH + timedelta(seconds=doc_id * 37),
        "html": payload,
        "text": _sentence(random.Random(f"{seed}:t:{doc_id}"), 20, 40),
        "lang": LANGS[doc_id % len(LANGS)],
    }


def generate_corpus(n_docs: int, seed: int = 42) -> list[dict]:
    return [generate_row(i, seed) for i in range(n_docs)]


def corpus_df(spark, n_docs: int, seed: int = 42, n_partitions: int | None = None):
    """Distributed generation: ids are parallelized, rows built on
    executors (generation itself scales with the cluster)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), False),
            T.StructField("html", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
    )
    n_partitions = n_partitions or spark.sparkContext.defaultParallelism
    rdd = spark.sparkContext.parallelize(range(n_docs), n_partitions).map(
        lambda i: generate_row(i, seed)
    )
    return spark.createDataFrame(rdd, schema=schema)


def write_corpus(
    spark, path: str, n_docs: int, seed: int = 42,
    n_partitions: int | None = None,
) -> None:
    """Write the corpus as MANY small files (max(128, 8 x cores)): a
    crawl lands as many small parts, so this is the input shape the
    engine is measured on.  The extract stage does not take its
    parallelism from it: it coalesces the scan to one layout task per
    core."""
    n_partitions = n_partitions or max(
        128, spark.sparkContext.defaultParallelism * 8
    )
    corpus_df(spark, n_docs, seed, n_partitions=n_partitions).write.mode(
        "overwrite"
    ).parquet(path)
