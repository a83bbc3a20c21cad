"""Pure-Python spec functions (no Spark imports).

Each mirrors a reference function 1:1 (cited); used by the driver-side
helpers, the chunk row kernel, and property tests.  The distributed engine
expresses the same logic as Catalyst column expressions wherever
possible (see operators/boilerplate.py) — these remain the executable
spec they are tested against.
"""

from __future__ import annotations

import html as _html
import re

from ..constants import (
    CHUNK_OVERLAP,
    CHUNK_SEPARATORS,
    CHUNK_SIZE,
    UNIT_MAX_LEN,
)

# reference: load_to_db.py:37-41
NUMBER_PATTERN = re.compile(r"^([-+]?[\d,]+(?:\.\d+)?)\s*(.*)$")
UNIT_DIRECT_PATTERN = re.compile(r"단위[:：]\s*([^\s)]+)")
UNIT_PAREN_PATTERN = re.compile(r"\(단위[:：]?\s*([^)]+)\)")
UNIT_SUFFIX_PATTERN = re.compile(r"\(([^)\d]{1,10})\)\s*$")
UNIT_VALID_CHARS = re.compile(r"[A-Za-z가-힣%°℃/·]")
# reference: table_diff.py:14
NUMBER_TOKEN_PATTERN = re.compile(r"[-+]?\d+(?:,\d{3})*(?:\.\d+)?%?")
# tokenizer for the rebuilt retrieval layer: the reference uses Korean
# morpheme analysis (search_vector_db.py:54-58, Kiwi); our deterministic
# corpus is space/word tokenizable, so \w+ lowercase is the pinned spec.
TOKEN_PATTERN = re.compile(r"\w+", re.UNICODE)


def normalize_line(text: str) -> str:
    """reference: structured_extract.py:41-50 (exact port of the rule)."""
    text = _html.unescape(text)
    text = re.sub(r"\d+", "N", text)
    text = re.sub(r"\s+", " ", text)
    return text.strip().lower()


def tokenize(text: str) -> list[str]:
    return TOKEN_PATTERN.findall((text or "").lower())


def extract_unit_hint(text: str | None) -> str | None:
    """reference: load_to_db.py:90-105."""
    if not text:
        return None
    text = text.strip()
    m = UNIT_PAREN_PATTERN.search(text)
    if m:
        return m.group(1).strip()
    m = UNIT_DIRECT_PATTERN.search(text)
    if m:
        return m.group(1).strip()
    m = UNIT_SUFFIX_PATTERN.search(text)
    if m:
        candidate = m.group(1).strip()
        if candidate and len(candidate) <= 12 and UNIT_VALID_CHARS.search(candidate):
            return candidate
    return None


def parse_cell_value(
    text: str | None, fallback_unit: str | None = None
) -> tuple[float | None, str | None, str]:
    """reference: load_to_db.py:129-154 -> (numeric_value, unit, content_type)."""
    if not text:
        return None, None, "text"
    text = text.strip()
    m = NUMBER_PATTERN.match(text)
    if m:
        num_str = m.group(1).replace(",", "")
        unit = m.group(2).strip()
        if len(unit) > UNIT_MAX_LEN:
            unit = unit[:UNIT_MAX_LEN]
        try:
            val = float(num_str)
            return val, (unit or fallback_unit), "number"
        except ValueError:
            pass
    return None, None, "text"


def number_tokens(text: str) -> list[str]:
    """reference: table_diff.py:17-33 (findall of the number pattern)."""
    return NUMBER_TOKEN_PATTERN.findall(text or "")


def normalize_number(token: str) -> str:
    """reference: table_diff.py:36-39 (drop thousands separators, keep %)."""
    return token.replace(",", "")


def number_set_diff(doc_numbers: list[str], ocr_numbers: list[str]) -> dict:
    """reference: table_diff.py:42-48 (both-direction set difference)."""
    doc_set = {normalize_number(n) for n in doc_numbers if n}
    ocr_set = {normalize_number(n) for n in ocr_numbers if n}
    return {
        "only_in_doc": sorted(doc_set - ocr_set),
        "only_in_ocr": sorted(ocr_set - doc_set),
    }


def chunk_spans(
    text: str,
    chunk_size: int = CHUNK_SIZE,
    chunk_overlap: int = CHUNK_OVERLAP,
    separators: list[str] | None = None,
) -> list[tuple[int, int]]:
    """Deterministic separator-aware chunker returning char spans.

    Re-expresses the reference's RecursiveCharacterTextSplitter usage
    (build_vector_db.py:369-373,399-403: size 512, overlap 50,
    separators ["\\n\\n", "\\n", ". ", " "]) as exact substring spans so
    that ``chunk_text == text[start:end]`` always holds (the north_star
    chunk-stage contract).  Greedy: each chunk ends at the last
    occurrence of the highest-priority separator inside the window; the
    next chunk starts ``chunk_overlap`` chars back.
    """
    seps = CHUNK_SEPARATORS if separators is None else separators
    n = len(text)
    if n == 0:
        return []
    if n <= chunk_size:
        return [(0, n)]
    spans: list[tuple[int, int]] = []
    start = 0
    while start < n:
        end = min(start + chunk_size, n)
        if end < n:
            cut = -1
            for sep in seps:
                # last separator that *ends* within (start, end]
                pos = text.rfind(sep, start + 1, end)
                if pos > start:
                    cut = pos + len(sep)
                    break
            if cut > start:
                end = cut
        spans.append((start, end))
        if end >= n:
            break
        start = max(end - chunk_overlap, start + 1)
    return spans


def bm25_idf(n_docs: int, df: int) -> float:
    """reference: search_vector_db.py:78."""
    import math

    return math.log(1 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_term_score(
    tf: int, df: int, n_docs: int, doc_len: int, avgdl: float,
    k1: float = 1.5, b: float = 0.75,
) -> float:
    """reference: search_vector_db.py:72-85 (per-(doc,term) contribution)."""
    if tf == 0 or df == 0:
        return 0.0
    idf = bm25_idf(n_docs, df)
    denom = tf + k1 * (1 - b + b * doc_len / avgdl)
    return idf * (tf * (k1 + 1)) / denom


def minmax_normalize(scores: list[float]) -> list[float]:
    """reference: search_vector_db.py:160-166 (constant list -> 0.5)."""
    if not scores:
        return []
    mn, mx = min(scores), max(scores)
    if mx - mn < 1e-8:
        return [0.5] * len(scores)
    return [(s - mn) / (mx - mn) for s in scores]
