"""Output checks.  Each returns a list of problems; empty means correct.

Committed stages are read straight from their parquet files, so a check
adds no Spark job to the run it checks.
"""

from __future__ import annotations

import os
from collections import defaultdict

import pyarrow.parquet as pq

from pdf_extraction_spark.functions.text_pure import chunk_spans
from tools.check_correctness import compare

MAX_REPORTED = 3


def read_stage(root: str, stage: str, columns: list[str]) -> dict[str, list]:
    return pq.read_table(os.path.join(root, stage), columns=columns).to_pydict()


def check_doc_text(root: str, expected: dict[str, str]) -> list[str]:
    """``doc_text`` is byte-identical to the oracle for every url (a url
    with empty oracle text has no row) and holds no other url."""
    cols = read_stage(root, "doc_text", ["url", "extracted_text"])
    got = dict(zip(cols["url"], cols["extracted_text"]))
    problems = []
    if len(got) != len(cols["url"]):
        problems.append(f"doc_text: {len(cols['url']) - len(got)} duplicate url rows")
    extra = sorted(set(got) - set(expected))
    if extra:
        problems.append(f"doc_text: {len(extra)} urls not in the corpus, e.g. {extra[0]}")
    bad = [u for u, text in expected.items() if got.get(u, "") != text]
    problems += [f"doc_text differs from the oracle for {u}" for u in bad[:MAX_REPORTED]]
    if len(bad) > MAX_REPORTED:
        problems.append(f"doc_text: {len(bad)} urls differ in all")
    return problems


def check_chunks(root: str, expected: dict[str, str]) -> list[str]:
    """The chunk spans of every url equal ``chunk_spans`` over the
    oracle text."""
    cols = read_stage(root, "chunks", ["url", "span_start", "span_end"])
    got: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for url, start, end in zip(cols["url"], cols["span_start"], cols["span_end"]):
        got[url].append((start, end))
    problems = []
    extra = sorted(set(got) - set(expected))
    if extra:
        problems.append(f"chunks: {len(extra)} urls not in the corpus, e.g. {extra[0]}")
    bad = [
        u for u, text in expected.items()
        if sorted(got.get(u, ())) != chunk_spans(text)
    ]
    problems += [f"chunk spans differ from the oracle for {u}" for u in bad[:MAX_REPORTED]]
    if len(bad) > MAX_REPORTED:
        problems.append(f"chunks: {len(bad)} urls differ in all")
    return problems


class Collected:
    """A query result fetched once through Arrow, shaped as ``compare``
    reads a DataFrame (``columns``, ``collect()`` rows keyed by column)."""

    def __init__(self, df):
        table = df.toArrow()
        self.columns = table.column_names
        self._rows = table.to_pylist()

    def collect(self) -> list[dict]:
        return self._rows


def check_query(name: str, result, expected) -> list[str]:
    """The Spark result equals the DuckDB oracle result, compared as
    ``tools/check_correctness.py`` compares them.  ``result`` is a
    DataFrame or a ``Collected``."""
    return [f"{name}: {p}" for p in compare(name, result, expected)]
