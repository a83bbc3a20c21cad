"""Embedding-build stage: deterministic hash embeddings for chunk text.

The reference embeds chunk text with a SentenceTransformer
(build_vector_db.py:381-389 ``model.encode(batch)``); the north rule
forbids external models, so the stand-in is a seeded md5 feature
hash — deterministic, uniform in [-1, 1], and computed as a Catalyst
expression whose DuckDB twin (``embed_sql``) replays it for the oracle.

Component j of embed(text):
    v_j   = 4096*d0 + 256*d1 + 16*d2 + d3   of md5(f"{j}|" + text)
    e_j   = (v_j - 32767.5) / 32767.5
where d_k is the value of the k-th hex digit — string arithmetic only
(strpos/substr), so DuckDB replays it without any hex-parse builtin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .similarity import bucket_col

EMBED_DIM = 16

_HEX = "0123456789abcdef"


def _hex_digit(hx: Column, pos: int) -> Column:
    """Value of the 1-indexed hex char — strpos arithmetic shared with
    the SQL oracle (no conv(): DuckDB has no base-conversion twin)."""
    return F.position(F.substring(hx, pos, 1), F.lit(_HEX)) - 1


def hash_embedding_col(text_col, dim: int = EMBED_DIM) -> Column:
    """array<double> hash embedding as a pure Catalyst expression."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    comps = []
    for j in range(dim):
        hx = F.substring(F.md5(F.concat(F.lit(f"{j}|"), col)), 1, 4)
        v = (
            _hex_digit(hx, 1) * 4096
            + _hex_digit(hx, 2) * 256
            + _hex_digit(hx, 3) * 16
            + _hex_digit(hx, 4)
        )
        comps.append((v.cast("double") - 32767.5) / 32767.5)
    return F.array(*comps)


def embed_sql(text_expr: str, dim: int = EMBED_DIM) -> str:
    """DuckDB twin of hash_embedding_col — a list literal expression."""

    def digit(j: int, pos: int) -> str:
        return (
            f"(strpos('{_HEX}', substr(md5('{j}|' || {text_expr}), {pos}, 1)) - 1)"
        )

    comps = []
    for j in range(dim):
        v = f"({digit(j, 1)}*4096 + {digit(j, 2)}*256 + {digit(j, 3)}*16 + {digit(j, 4)})"
        comps.append(f"(CAST({v} AS DOUBLE) - 32767.5) / 32767.5")
    return "[" + ", ".join(comps) + "]"


def embed_stage(
    chunks: DataFrame, text_col: str = "chunk_text", dim: int = EMBED_DIM,
) -> DataFrame:
    """chunks + ``embedding`` column, as a JVM-side Catalyst expression
    (whole-stage codegen, zero Python)."""
    return chunks.withColumn("embedding", hash_embedding_col(text_col, dim))


def vector_rows(chunks: DataFrame) -> DataFrame:
    """The chunk_vectors rows of ``chunks``: embedding + LSH bucket, one
    expression for the batch build (plans.pipeline.run_vector_build)
    and the streaming one (streaming.ingest.stream_vector_build).
    ``embed_stage`` resolves through this module's globals at call
    time, where the benchmark's tracer patches it."""
    return embed_stage(chunks).withColumn("bucket", bucket_col("embedding", dim=EMBED_DIM))
