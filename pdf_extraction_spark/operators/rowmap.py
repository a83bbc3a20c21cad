"""The engine's one Python row kernel: rows in, rows out, Arrow both ways.

Layout, OCR decode, the media operators and both chunkers are row
functions over a DataFrame's columns; ``map_rows`` runs any of them
through one ``mapInArrow``.  Record batches are read with
``to_pylist`` and built with ``RecordBatch.from_pylist`` (nested
structs convert in C++), so no batch takes the pandas detour
``mapInPandas`` pays in both directions (PAPERS.md, "Accelerating
Python UDFs in Vectorized Query Execution").
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, types as T

RowFn = Callable[..., Iterable[dict]]


def arrow_rows(batches: Iterator, task: Callable[[], RowFn], arrow_schema) -> Iterator:
    """The mapInArrow body: ``task()`` once per Spark task (where a real
    OCR or codec model would load) returns ``row_fn``, which maps one
    input row, its columns in order, to the dicts of its output rows.
    One output batch per input batch, yielded before the next is
    pulled, so a task holds at most one batch of rows."""
    import pyarrow as pa

    row_fn = task()
    for rb in batches:
        rows = []
        for row in zip(*(col.to_pylist() for col in rb.columns)):
            rows.extend(row_fn(*row))
        yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)


def map_rows(df: DataFrame, schema: T.StructType, task: Callable[[], RowFn]) -> DataFrame:
    """``df``'s rows through ``task``'s row function -> rows of ``schema``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    return df.mapInArrow(lambda it: arrow_rows(it, task, arrow_schema), schema)
