"""Vectorized SPDF layout engine (numpy) — the distributed twin of the
oracle's reference implementation (oracle.py, layout spec steps 1-6).

Replaces the reference's Docling conversion (structured_extract.py:
631-639) with from-scratch glyph->line->block grouping + XY-cut reading
order.  Glyph expansion, line grouping and word-gap detection are
numpy-vectorized (thousands of glyphs/page); element-level recursion
(tens of blocks/tables/figures) stays plain Python.  Runs inside the
Stage-1 ``mapInArrow`` kernel over Arrow batches (operators/extract.py).
"""

from __future__ import annotations

import base64
import json

import numpy as np

from ..constants import (
    BLOCK_GAP_FACTOR,
    FIGURE_HEADER_RATIO,
    GLYPH_COVERAGE_TAU,
    IMAGE_PLACEHOLDER,
    LINE_Y_QUANT,
    MIN_FIGURE_AREA_RATIO,
    OCR_IMAGE_COVER_MIN,
    PDF_WORD_TOLERANCE,
    RECT_SNAP_TOL,
    SPDF_MAGIC,
    TITLE_MAX_CHARS,
    TITLE_OVERLAP_THRESHOLD,
    TITLE_OVERLAP_WEIGHT,
    TITLE_VERTICAL_THRESHOLD,
    VISUAL_REVIEW_THRESHOLD,
    WORD_GAP_FACTOR,
    XYCUT_MIN_VGAP,
)

XYCUT_MIN_HGAP = 20.0
CHAR_ADVANCE = 0.6


def _expand_glyphs(runs: list):
    """runs -> (chars ndarray[U1], l, r, b, t, size ndarrays). Spaces
    advance the pen but emit no glyph.  Vectorized across ALL runs of
    the page (one numpy pass, no per-run allocations)."""
    runs = [r for r in runs if r[3]]
    if not runs:
        z = np.zeros(0)
        return np.array([], dtype="U1"), z, z, z, z, z
    texts = [r[3] for r in runs]
    lens = np.array([len(s) for s in texts], dtype=np.int64)
    total = int(lens.sum())
    # one (n_runs, 3) coordinate array instead of three per-run
    # listcomps — same floats (np.asarray coerces exactly like float())
    coords = np.array([r[:3] for r in runs], dtype=np.float64)
    xs = np.repeat(coords[:, 0], lens)
    ys = np.repeat(coords[:, 1], lens)
    sizes = np.repeat(coords[:, 2], lens)
    advs = sizes * CHAR_ADVANCE
    starts = np.repeat(np.concatenate(([0], np.cumsum(lens)[:-1])), lens)
    within = np.arange(total, dtype=np.float64) - starts
    l = xs + within * advs
    # U1 view over the utf-32 encoding — no per-char Python list
    joined = "".join(texts)
    chars = np.frombuffer(joined.encode("utf-32-le"), dtype="<U1").copy()
    keep = chars != " "
    if not keep.any():
        z = np.zeros(0)
        return np.array([], dtype="U1"), z, z, z, z, z
    l, ys, sizes, advs, chars = l[keep], ys[keep], sizes[keep], advs[keep], chars[keep]
    return chars, l, l + advs, ys, ys + sizes, sizes


def _lines_from_glyphs(chars, l, r, b, t, size):
    """Vectorized line building (spec step 3): one lexsort, one
    reduceat per bbox edge, one string join for the whole page."""
    n = len(chars)
    if n == 0:
        return []
    key = np.rint(b / LINE_Y_QUANT).astype(np.int64)
    if n <= 96 and (key == key[0]).all():
        # single-line fast path (typical table cell): same ordering
        # (lexsort with a constant primary key == stable argsort on l)
        # and the same word-gap rule, skipping the multi-line machinery
        order = np.argsort(l, kind="stable")
        lo, ro, so = l[order], r[order], size[order]
        gap = (lo[1:] - ro[:-1]) > WORD_GAP_FACTOR * so[:-1]
        # same codepoint-interleave trick as the multi-line path: the
        # old per-char loop appended " " before gap glyphs and skipped
        # NUL glyphs (U1 NUL .tolist() yields ''), which is exactly the
        # masked zero-word decode
        buf = np.empty(2 * n, dtype="<i4")  # explicit LE: tobytes() must match the utf-32-le decode on any host
        buf[0::2] = 0
        buf[2::2] = np.where(gap, 0x20, 0)
        buf[1::2] = chars[order].view("<i4")
        buf = buf[buf != 0]
        return [
            {
                "kind": "line",
                "text": buf.tobytes().decode("utf-32-le"),
                "l": float(lo.min()),
                "r": float(ro.max()),
                "b": float(b.min()),
                "t": float(t.max()),
                "baseline": float(b[order[0]]),
                "size": float(size[order[0]]),
            }
        ]
    order = np.lexsort((l, -key))  # primary: key desc, secondary: l asc
    chars, l, r, b, t, size, key = (
        chars[order], l[order], r[order], b[order], t[order], size[order], key[order]
    )
    newline = np.zeros(n, dtype=bool)
    newline[1:] = key[1:] != key[:-1]
    gap = np.zeros(n, dtype=bool)
    gap[1:] = (l[1:] - r[:-1]) > WORD_GAP_FACTOR * size[:-1]
    gap &= ~newline
    # interleaved CODEPOINT buffer: U1 arrays are utf-32 words, so the
    # page text is one int32 interleave + one decode — no 2n-element
    # Python string list (the previous "".join(buf.tolist()) built one;
    # this pass measures ~25% faster single-core).  Zero words (the
    # no-separator slots, and any NUL glyph — which the U1 dtype
    # already dropped under the old join) are masked out before decode.
    buf = np.empty(2 * n, dtype="<i4")  # explicit LE: tobytes() must match the utf-32-le decode on any host
    buf[0::2] = np.where(newline, 0x0A, np.where(gap, 0x20, 0))
    buf[1::2] = chars.view("<i4")
    buf = buf[buf != 0]
    texts = buf.tobytes().decode("utf-32-le").split("\n")
    starts = np.concatenate(([0], np.flatnonzero(newline)))
    l_min = np.minimum.reduceat(l, starts)
    r_max = np.maximum.reduceat(r, starts)
    b_min = np.minimum.reduceat(b, starts)
    t_max = np.maximum.reduceat(t, starts)
    return [
        {
            "kind": "line",
            "text": texts[i],
            "l": float(l_min[i]),
            "r": float(r_max[i]),
            "b": float(b_min[i]),
            "t": float(t_max[i]),
            "baseline": float(b[starts[i]]),
            "size": float(size[starts[i]]),
        }
        for i in range(len(starts))
    ]


def _rect_components(rects: list) -> list[list[list[float]]]:
    n = len(rects)
    if n == 0:
        return []
    arr = np.asarray(rects, dtype=np.float64)
    x0, y0, x1, y1 = arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3]
    adj = ~(
        (x1[:, None] < x0[None, :] - RECT_SNAP_TOL)
        | (x1[None, :] < x0[:, None] - RECT_SNAP_TOL)
        | (y1[:, None] < y0[None, :] - RECT_SNAP_TOL)
        | (y1[None, :] < y0[:, None] - RECT_SNAP_TOL)
    )
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    ii, jj = np.nonzero(np.triu(adj, 1))
    for i, j in zip(ii.tolist(), jj.tolist()):
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[ri] = rj
    comps: dict[int, list] = {}
    for i in range(n):
        comps.setdefault(find(i), []).append(rects[i])
    out = list(comps.values())
    out.sort(key=lambda rs: (-max(r[3] for r in rs), min(r[0] for r in rs)))
    return out


def _cluster_1d(values, tol: float) -> list[float]:
    bands: list[float] = []
    for v in sorted(values):
        if not bands or v - bands[-1] > tol:
            bands.append(v)
    return bands


def _cell_text(chars, l, r, b, t, size, mask, keys=None) -> str:
    """Reading-order text of a masked glyph subset (vectorized).
    ``keys`` (optional) = precomputed rint(b/LINE_Y_QUANT) for the full
    arrays, hoisted out of the per-cell loop by _detect_tables."""
    if not mask.any():
        return ""
    mc, ml, mr, mb, mt, ms = (
        chars[mask], l[mask], r[mask], b[mask], t[mask], size[mask]
    )
    if len(mc) == 1:
        return str(mc[0])
    key = (
        keys[mask]
        if keys is not None
        else np.rint(mb / LINE_Y_QUANT).astype(np.int64)
    )
    if (key == key[0]).all():
        # single-line cell fast path: text only, no line dicts
        order = np.argsort(ml, kind="stable")
        lo, ro, so = ml[order], mr[order], ms[order]
        gap = (lo[1:] - ro[:-1]) > WORD_GAP_FACTOR * so[:-1]
        parts = []
        for i, ch in enumerate(mc[order].tolist()):
            if i and gap[i - 1]:
                parts.append(" ")
            parts.append(ch)
        return "".join(parts)
    sub = _lines_from_glyphs(mc, ml, mr, mb, mt, ms)
    return " ".join(line["text"] for line in sub)


def _batched_cell_texts(cell_masks, schars, sl, sr, sb, st, ssize, skeys) -> dict:
    """Reading-order text for EVERY cell of a component in one pass
    (NOTES.md round-4 backlog 3: the per-cell `_cell_text` calls —
    fancy-indexing + argsort per cell — were ~25% of the single-core
    layout profile).

    Semantics are identical to `_cell_text` per cell: glyphs ordered by
    (line-key desc, x asc) and joined with a space at every line break
    or word gap, '' otherwise — one np.nonzero over the containment
    matrix (duplicates preserved: a glyph inside two tolerance-expanded
    cells contributes to both, exactly as the per-cell masks did), ONE
    lexsort over (cell, -key, x) for the whole component, vectorized
    break flags, one interleaved join and one split on a \x01 sentinel
    (NUL itself vanishes inside numpy's NUL-terminated U dtype; a
    literal \x01 glyph falls back to the per-cell path).  Returns
    {cell_index: text} for non-empty cells."""
    ci, gi = np.nonzero(cell_masks)
    if not len(ci):
        return {}
    if (schars == "\x01").any():  # sentinel collision: per-cell fallback
        return {
            ri: _cell_text(schars, sl, sr, sb, st, ssize, cell_masks[ri],
                           keys=skeys)
            for ri in range(cell_masks.shape[0])
        }
    order = np.lexsort((sl[gi], -skeys[gi], ci))
    ci_o, gi_o = ci[order], gi[order]
    lo, ro, so, ko = sl[gi_o], sr[gi_o], ssize[gi_o], skeys[gi_o]
    n = len(ci_o)
    same_cell = np.zeros(n, dtype=bool)
    same_cell[1:] = ci_o[1:] == ci_o[:-1]
    newline = same_cell.copy()
    newline[1:] &= ko[1:] != ko[:-1]
    gap = same_cell.copy()
    gap[1:] &= (lo[1:] - ro[:-1]) > WORD_GAP_FACTOR * so[:-1]
    gap &= ~newline
    # same int32-codepoint interleave as _lines_from_glyphs: U1 words
    # ARE utf-32, so one masked decode replaces the 2n-string join
    buf = np.empty(2 * n, dtype="<i4")  # explicit LE: tobytes() must match the utf-32-le decode on any host
    buf[0::2] = np.where(~same_cell, 0x01, np.where(newline | gap, 0x20, 0))
    buf[1::2] = schars[gi_o].view("<i4")
    buf = buf[buf != 0]
    texts = buf.tobytes().decode("utf-32-le").split("\x01")[1:]
    cell_ids = ci_o[np.flatnonzero(~same_cell)]
    return dict(zip(cell_ids.tolist(), texts))


def _detect_tables(rects, chars, l, r, b, t, size):
    tables = []
    in_table = np.zeros(len(chars), dtype=bool)
    cx = (l + r) / 2 if len(chars) else np.zeros(0)
    cy = (b + t) / 2 if len(chars) else np.zeros(0)
    for comp in _rect_components(rects):
        row_tops = _cluster_1d([rr[3] for rr in comp], RECT_SNAP_TOL)
        col_lefts = _cluster_1d([rr[0] for rr in comp], RECT_SNAP_TOL)
        if len(row_tops) < 2 or len(col_lefts) < 2:
            continue
        row_tops_desc = sorted(row_tops, reverse=True)
        bbox = {
            "left": min(rr[0] for rr in comp),
            "bottom": min(rr[1] for rr in comp),
            "right": max(rr[2] for rr in comp),
            "top": max(rr[3] for rr in comp),
        }
        # one bbox prefilter per component: per-cell masks then run over
        # the table's glyph subset, not the whole page (the per-cell
        # page-wide mask was ~18% of the layout profile)
        if len(chars):
            sub = (
                (cx >= bbox["left"] - PDF_WORD_TOLERANCE)
                & (cx <= bbox["right"] + PDF_WORD_TOLERANCE)
                & (cy >= bbox["bottom"] - PDF_WORD_TOLERANCE)
                & (cy <= bbox["top"] + PDF_WORD_TOLERANCE)
            )
            sidx = np.flatnonzero(sub)
            scx, scy = cx[sidx], cy[sidx]
            schars, sl, sr, sb, st, ssize = (
                chars[sidx], l[sidx], r[sidx], b[sidx], t[sidx], size[sidx]
            )
        else:
            sidx = np.zeros(0, dtype=np.int64)
        # vectorized row/col assignment + spans for the whole component
        # (identical semantics: argmin keeps the FIRST nearest band,
        # matching min(range, key=abs(...)))
        carr = np.asarray(comp, dtype=np.float64)
        cx0, cy0, cx1, cy1 = carr[:, 0], carr[:, 1], carr[:, 2], carr[:, 3]
        rt = np.asarray(row_tops_desc, dtype=np.float64)
        cl = np.asarray(col_lefts, dtype=np.float64)
        row_idxs = np.abs(cy1[:, None] - rt[None, :]).argmin(axis=1)
        col_idxs = np.abs(cx0[:, None] - cl[None, :]).argmin(axis=1)
        row_spans = np.maximum(
            1,
            (
                (rt[None, :] > cy0[:, None] + RECT_SNAP_TOL)
                & (rt[None, :] <= cy1[:, None] + RECT_SNAP_TOL)
            ).sum(axis=1),
        )
        col_spans = np.maximum(
            1,
            (
                (cl[None, :] >= cx0[:, None] - RECT_SNAP_TOL)
                & (cl[None, :] < cx1[:, None] - RECT_SNAP_TOL)
            ).sum(axis=1),
        )
        # one containment matrix for the whole component (cells x sub
        # glyphs) instead of four comparisons per cell — identical
        # per-cell masks, one numpy pass
        if len(sidx):
            tol = PDF_WORD_TOLERANCE
            cell_masks = (
                (scx[None, :] >= cx0[:, None] - tol)
                & (scx[None, :] <= cx1[:, None] + tol)
                & (scy[None, :] >= cy0[:, None] - tol)
                & (scy[None, :] <= cy1[:, None] + tol)
            )
            in_table[sidx[cell_masks.any(axis=0)]] = True
            skeys = np.rint(sb / LINE_Y_QUANT).astype(np.int64)
            cell_texts = _batched_cell_texts(
                cell_masks, schars, sl, sr, sb, st, ssize, skeys
            )
        else:
            cell_texts = {}
        cells = []
        for ri, rect in enumerate(comp):
            row_idx = int(row_idxs[ri])
            col_idx = int(col_idxs[ri])
            row_span = int(row_spans[ri])
            col_span = int(col_spans[ri])
            text = cell_texts.get(ri, "")
            cells.append(
                {
                    "row": row_idx,
                    "col": col_idx,
                    "text": text,
                    "row_span": row_span,
                    "col_span": col_span,
                    "column_header": row_idx == 0,
                    "row_header": col_idx == 0 and row_idx > 0,
                }
            )
        cells.sort(key=lambda c: (c["row"], c["col"]))
        tables.append({"bbox": bbox, "cells": cells, "title": None})
    return tables, in_table


def _split_axis(elems, axis, min_gap):
    if axis == "y":
        ivals = sorted(((e["b"], e["t"]) for e in elems), key=lambda p: p[0])
    else:
        ivals = sorted(((e["l"], e["r"]) for e in elems), key=lambda p: p[0])
    merged: list[list[float]] = []
    for lo, hi in ivals:
        if merged and lo <= merged[-1][1] + min_gap:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    if len(merged) <= 1:
        return [elems]
    groups: list[list] = [[] for _ in merged]
    for e in elems:
        lo = e["b"] if axis == "y" else e["l"]
        for i, (mlo, mhi) in enumerate(merged):
            if mlo <= lo <= mhi:
                groups[i].append(e)
                break
    if axis == "y":
        groups.reverse()
    return [g for g in groups if g]


def _xy_order(elems, try_y=True, try_x=True):
    if len(elems) <= 1:
        return list(elems)
    if try_y:
        groups = _split_axis(elems, "y", XYCUT_MIN_HGAP)
        if len(groups) > 1:
            out = []
            for g in groups:
                out.extend(_xy_order(g, try_y=False, try_x=True))
            return out
    if try_x:
        groups = _split_axis(elems, "x", XYCUT_MIN_VGAP)
        if len(groups) > 1:
            out = []
            for g in groups:
                out.extend(_xy_order(g, try_y=True, try_x=False))
            return out
    return sorted(elems, key=lambda e: (-e["t"], e["l"]))


def _lines_to_blocks(ordered):
    out = []
    for e in ordered:
        if (
            e["kind"] == "line"
            and out
            and out[-1]["kind"] == "block"
            and 0 < out[-1]["baseline"] - e["baseline"] <= BLOCK_GAP_FACTOR * e["size"]
        ):
            blk = out[-1]
            blk["text"] += " " + e["text"]
            blk["l"] = min(blk["l"], e["l"])
            blk["r"] = max(blk["r"], e["r"])
            blk["b"] = min(blk["b"], e["b"])
            blk["baseline"] = e["baseline"]
        elif e["kind"] == "line":
            out.append(dict(e, kind="block"))
        else:
            out.append(e)
    return out


def _overlap_ratio(al, ar, bl, br) -> float:
    left, right = max(al, bl), min(ar, br)
    if right <= left:
        return 0.0
    return (right - left) / min(max(1e-3, ar - al), max(1e-3, br - bl))


def _table_title(tb, blocks) -> str | None:
    best_text, best_score = None, float("inf")
    for blk in blocks:
        overlap = _overlap_ratio(blk["l"], blk["r"], tb["left"], tb["right"])
        if overlap < TITLE_OVERLAP_THRESHOLD:
            continue
        tlen = len(blk["text"])
        if tlen == 0 or tlen > TITLE_MAX_CHARS:
            continue
        vertical_gap = blk["b"] - tb["top"]
        if vertical_gap < 0 or vertical_gap > TITLE_VERTICAL_THRESHOLD:
            continue
        score = vertical_gap - overlap * TITLE_OVERLAP_WEIGHT
        if score < best_score:
            best_score, best_text = score, blk["text"]
    return best_text


def extract_spdf_page(page: dict, page_no: int) -> dict:
    w = float(page.get("w") or 1.0)
    h = float(page.get("h") or 1.0)
    page_area = max(1e-3, w * h)
    chars, l, r, b, t, size = _expand_glyphs(page.get("text") or [])
    images = page.get("images") or []

    glyph_area = float(((r - l) * (t - b)).sum()) if len(chars) else 0.0
    glyph_coverage = glyph_area / page_area
    image_area = sum(
        max(0.0, im[2] - im[0]) * max(0.0, im[3] - im[1]) for im in images
    )
    image_coverage = image_area / page_area
    ocr_triggered = (
        glyph_coverage < GLYPH_COVERAGE_TAU and image_coverage >= OCR_IMAGE_COVER_MIN
    )
    ocr_payload = None
    if ocr_triggered:
        for im in images:
            if len(im) > 4:
                try:
                    ocr_payload = base64.b64decode(im[4])
                    break
                except Exception:
                    continue

    tables, in_table = _detect_tables(page.get("rects") or [], chars, l, r, b, t, size)
    keep = ~in_table if len(chars) else np.zeros(0, dtype=bool)
    lines = _lines_from_glyphs(chars[keep], l[keep], r[keep], b[keep], t[keep], size[keep])

    elems = list(lines)
    for ti, tb in enumerate(tables):
        elems.append(
            {"kind": "table", "idx": ti, "l": tb["bbox"]["left"],
             "r": tb["bbox"]["right"], "b": tb["bbox"]["bottom"], "t": tb["bbox"]["top"]}
        )
    for ii, im in enumerate(images):
        elems.append(
            {"kind": "image", "idx": ii, "l": im[0], "r": im[2], "b": im[1], "t": im[3]}
        )

    ordered = _lines_to_blocks(_xy_order(elems))
    blocks = [e for e in ordered if e["kind"] == "block"]

    md_lines = []
    for e in ordered:
        if e["kind"] == "block":
            md_lines.append(e["text"])
        elif e["kind"] == "table":
            tb = tables[e["idx"]]
            rows: dict[int, list] = {}
            for c in tb["cells"]:
                rows.setdefault(c["row"], []).append((c["col"], c["text"]))
            for ridx in sorted(rows):
                md_lines.append(" | ".join(txt for _, txt in sorted(rows[ridx])))
        else:
            md_lines.append(IMAGE_PLACEHOLDER)

    for tb in tables:
        tb["title"] = _table_title(tb["bbox"], blocks)

    figures = []
    table_area = sum(
        max(0.0, tb["bbox"]["right"] - tb["bbox"]["left"])
        * max(0.0, tb["bbox"]["top"] - tb["bbox"]["bottom"])
        for tb in tables
    )
    figure_area = 0.0
    header_cutoff = h * (1 - FIGURE_HEADER_RATIO) if h else None
    for im in images:
        x0, y0, x1, y1 = im[0], im[1], im[2], im[3]
        width, height = max(0.0, x1 - x0), max(0.0, y1 - y0)
        area_ratio = (width * height) / page_area
        if area_ratio < MIN_FIGURE_AREA_RATIO:
            continue
        if header_cutoff and y0 >= header_cutoff:
            continue
        desc = None
        if len(im) > 4:
            try:
                raw = base64.b64decode(im[4])
                if raw.startswith(b"FIG:"):
                    desc = raw[4:].decode("utf-8", errors="replace")
            except Exception:
                pass
        figures.append(
            {"bbox": {"left": x0, "right": x1, "top": y1, "bottom": y0},
             "caption": None, "description": desc}
        )
        figure_area += width * height

    visual_density = (table_area + figure_area) / page_area
    return {
        "page_no": page_no,
        "md_lines": md_lines,
        "blocks": [
            {"text": e["text"],
             "bbox": {"left": e["l"], "right": e["r"], "top": e["t"], "bottom": e["b"]}}
            for e in blocks
        ],
        "tables": tables,
        "figures": figures,
        "page_w": w,
        "page_h": h,
        "glyph_coverage": glyph_coverage,
        "image_coverage": image_coverage,
        "ocr_triggered": ocr_triggered,
        "ocr_payload": ocr_payload,
        "visual_density": visual_density,
        "has_tables": bool(tables),
        "has_figures": bool(figures),
        "needs_review": visual_density >= VISUAL_REVIEW_THRESHOLD or bool(images),
    }


def extract_spdf_unit(page_json: str, page_no: int) -> dict:
    """One SPDF page record -> page dict."""
    try:
        page = json.loads(page_json)
    except Exception:
        page = {}
    return extract_spdf_page(page, page_no)


def extract_html_unit(payload: bytes) -> dict:
    from ..functions.html_extract import extract_html

    page = extract_html(payload)
    page["ocr_payload"] = None
    return page


def extract_payload(payload: bytes | None) -> list[dict]:
    """Format sniff (F1 dispatch) -> page dicts.  The one sniff the
    engine and the oracle share: the extract kernel calls it on every
    payload unit, and its rule is ``oracle.extract_document``'s byte
    for byte (SPDF magic prefix; else HTML when the lstrip()ped bytes
    open with ``<`` or the first 512 bytes hold ``<html``).  HTML goes
    through the shared DOM stripper (functions/html_extract.py)."""
    if not payload:
        return []
    if payload.startswith(SPDF_MAGIC):
        body = payload[len(SPDF_MAGIC):].decode("utf-8", errors="replace")
        return [
            extract_spdf_unit(rec, i + 1)
            for i, rec in enumerate(body.split("\x1e"))
        ]
    stripped = payload.lstrip()
    if stripped[:1] == b"<" or b"<html" in payload[:512].lower():
        return [extract_html_unit(payload)]
    return []
