"""Round-2 retrieval surface: chunk-granularity hybrid search with
source_type metadata, F14 query-filter inference, and the
embedding-build -> ANN loop — each with a DuckDB oracle twin.

The chunk table here is synthesized SQL-replayably from the documents
test table (the engine's real chunk table comes from the layout
pipeline, which has a byte-identical pytest gate instead): page_text
chunks are fixed 100/20 windows; docs also contribute 'table' and
'figure' chunks on deterministic id strides — mirroring the
reference's three chunk sources tagged source_type
(build_vector_db.py:473-527, metadata at :354-366).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators import retrieval, similarity
from ..operators.embed import EMBED_DIM, embed_sql, hash_embedding_col
from .common import prepare, table as _t
from .text_ops import QUERY_TERMS

_TOKS = "list_filter(string_split(chunk_text, ' '), x -> x <> '')"


# --- synthetic chunk table (Spark + SQL twins) -------------------------------

def synthetic_chunks(docs: DataFrame) -> DataFrame:
    """(doc_id, page_no, chunk_id, source_type, chunk_text) — page_text
    chunks at stride 80 width 100 (5 per synthetic page), plus table
    chunks (doc_id % 7 == 0) and figure chunks (doc_id % 5 == 0)."""
    n = F.length("text")
    pages = (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(80))).alias("s"),
        )
        .select(
            "doc_id",
            (F.floor(F.col("s") / 400) + 1).cast("long").alias("page_no"),
            (F.col("s") / 80).cast("long").alias("chunk_id"),
            F.lit("page_text").alias("source_type"),
            F.expr("substring(text, s + 1, 100)").alias("chunk_text"),
        )
    )
    tables = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.lit(1).cast("long").alias("page_no"),
        F.lit(1000).cast("long").alias("chunk_id"),
        F.lit("table").alias("source_type"),
        F.substring("text", 1, 120).alias("chunk_text"),
    )
    figures = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.lit(2).cast("long").alias("page_no"),
        F.lit(2000).cast("long").alias("chunk_id"),
        F.lit("figure").alias("source_type"),
        F.substring("text", 41, 80).alias("chunk_text"),
    )
    return pages.unionByName(tables).unionByName(figures)


_SQL_CHUNKS = """
  SELECT doc_id, CAST(FLOOR(s / 400) + 1 AS BIGINT) AS page_no,
         CAST(s / 80 AS BIGINT) AS chunk_id, 'page_text' AS source_type,
         substr(text, CAST(s AS INTEGER) + 1, 100) AS chunk_text
  FROM documents, UNNEST(generate_series(0, GREATEST(len(text) - 1, 0), 80)) AS t(s)
  UNION ALL
  SELECT doc_id, 1, 1000, 'table', substr(text, 1, 120) FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, 2, 2000, 'figure', substr(text, 41, 80) FROM documents WHERE doc_id % 5 = 0
"""


def q_chunk_hybrid_topk(spark, sf_dir):
    """Chunk-granularity hybrid retrieval: semantic per chunk, BM25 on
    page-aggregated text, 0.6/0.4 combine, rank-1 dedup per
    (doc, page), top-10."""
    chunks = synthetic_chunks(_t(spark, sf_dir, "documents"))
    return retrieval.chunk_hybrid_search(chunks, " ".join(QUERY_TERMS), top_k=10)


_QLIST = "['" + "','".join(sorted(set(QUERY_TERMS))) + "']"

SQL_CHUNK_HYBRID_TOPK = f"""
WITH chunks AS ({_SQL_CHUNKS}),
sem AS (
  SELECT doc_id, page_no, chunk_id, source_type,
         ROUND(CAST(len(list_intersect(list_distinct({_TOKS}), {_QLIST})) AS DOUBLE)
               / len(list_distinct(list_concat(list_distinct({_TOKS}), {_QLIST}))), 6) AS semantic_score
  FROM chunks),
pages AS (
  SELECT doc_id, page_no,
         string_agg(chunk_text, ' ' ORDER BY chunk_id) AS page_text
  FROM chunks WHERE source_type = 'page_text' GROUP BY doc_id, page_no),
pl AS (SELECT doc_id, page_no,
              list_filter(string_split(page_text, ' '), x -> x <> '') AS toks
       FROM pages),
dl AS (SELECT doc_id, page_no, len(toks) AS doc_len, toks FROM pl),
corpus AS (SELECT COUNT(*) AS n_docs, AVG(doc_len) AS avgdl FROM dl),
terms AS (SELECT doc_id, page_no, doc_len, unnest(toks) AS term FROM dl),
qt AS (SELECT unnest({_QLIST}) AS term),
dfc AS (SELECT term, COUNT(DISTINCT doc_id || '|' || page_no) AS df
        FROM terms JOIN qt USING(term) GROUP BY term),
tf AS (SELECT doc_id, page_no, doc_len, term, COUNT(*) AS tf
       FROM terms JOIN qt USING(term) GROUP BY ALL),
kw AS (SELECT doc_id, page_no,
              ROUND(SUM(LN(1 + (n_docs - df + 0.5) / (df + 0.5))
                        * (tf * 2.5) / (tf + 1.5 * (1 - 0.75 + 0.75 * doc_len / avgdl))), 6) AS keyword_score
       FROM tf JOIN dfc USING(term) CROSS JOIN corpus GROUP BY doc_id, page_no),
cand AS (
  SELECT sem.doc_id, sem.page_no, chunk_id, source_type, semantic_score,
         COALESCE(keyword_score, 0.0) AS keyword_score
  FROM sem LEFT JOIN kw ON sem.doc_id = kw.doc_id AND sem.page_no = kw.page_no
  WHERE semantic_score > 0 OR COALESCE(keyword_score, 0.0) > 0),
stats AS (SELECT MIN(semantic_score) mns, MAX(semantic_score) mxs,
                 MIN(keyword_score) mnk, MAX(keyword_score) mxk FROM cand),
normed AS (
  SELECT doc_id, page_no, chunk_id, source_type, semantic_score, keyword_score,
         CASE WHEN (mxs - mns) < 1e-8 THEN 0.5 ELSE (semantic_score - mns) / (mxs - mns) END AS sem_norm,
         CASE WHEN (mxk - mnk) < 1e-8 THEN 0.5 ELSE (keyword_score - mnk) / (mxk - mnk) END AS kw_norm
  FROM cand CROSS JOIN stats),
scored AS (
  SELECT doc_id, page_no, chunk_id, source_type, semantic_score, keyword_score,
         ROUND(0.6 * sem_norm + 0.4 * kw_norm, 6) AS combined_score
  FROM normed),
deduped AS (
  SELECT * FROM scored
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY doc_id, page_no
    ORDER BY combined_score DESC,
             lpad(CAST(chunk_id AS VARCHAR), 6, '0') || '|' || source_type ASC) = 1)
SELECT doc_id, page_no, chunk_id, source_type, semantic_score, keyword_score, combined_score
FROM deduped
ORDER BY combined_score DESC, doc_id ASC, page_no ASC, chunk_id ASC
LIMIT 10
"""


def q_chunk_rerank_topk(spark, sf_dir):
    """W3/W4 rerank on the CHUNK path in the reference's order
    (search_vector_db.py:181-193 rerank pool BEFORE the :263-271 page
    dedup): hybrid pool of 50, bigram-recall rescoring on the chunk
    text, rank-1 per (doc, page) on the RERANKED score, top-10."""
    chunks = synthetic_chunks(_t(spark, sf_dir, "documents"))
    return retrieval.chunk_rerank_search(
        chunks, " ".join(QUERY_TERMS), pool=50, top_k=10
    )


# Derived from QUERY_TERMS exactly as chunk_rerank_search derives them
# (operators/retrieval.py: zip(terms, terms[1:]) + max(1, len) divisor),
# so editing QUERY_TERMS cannot silently diverge this oracle from Spark.
_QBI = [f"{a} {b}" for a, b in zip(QUERY_TERMS, QUERY_TERMS[1:])]
_QBIGRAMS = "['" + "','".join(_QBI) + "']"
_QBIGRAM_DIV = float(max(1, len(_QBI)))

SQL_CHUNK_RERANK_TOPK = f"""
WITH chunks AS ({_SQL_CHUNKS}),
sem AS (
  SELECT doc_id, page_no, chunk_id, source_type, chunk_text,
         ROUND(CAST(len(list_intersect(list_distinct({_TOKS}), {_QLIST})) AS DOUBLE)
               / len(list_distinct(list_concat(list_distinct({_TOKS}), {_QLIST}))), 6) AS semantic_score
  FROM chunks),
pages AS (
  SELECT doc_id, page_no,
         string_agg(chunk_text, ' ' ORDER BY chunk_id) AS page_text
  FROM chunks WHERE source_type = 'page_text' GROUP BY doc_id, page_no),
pl AS (SELECT doc_id, page_no,
              list_filter(string_split(page_text, ' '), x -> x <> '') AS toks
       FROM pages),
dl AS (SELECT doc_id, page_no, len(toks) AS doc_len, toks FROM pl),
corpus AS (SELECT COUNT(*) AS n_docs, AVG(doc_len) AS avgdl FROM dl),
terms AS (SELECT doc_id, page_no, doc_len, unnest(toks) AS term FROM dl),
qt AS (SELECT unnest({_QLIST}) AS term),
dfc AS (SELECT term, COUNT(DISTINCT doc_id || '|' || page_no) AS df
        FROM terms JOIN qt USING(term) GROUP BY term),
tf AS (SELECT doc_id, page_no, doc_len, term, COUNT(*) AS tf
       FROM terms JOIN qt USING(term) GROUP BY ALL),
kw AS (SELECT doc_id, page_no,
              ROUND(SUM(LN(1 + (n_docs - df + 0.5) / (df + 0.5))
                        * (tf * 2.5) / (tf + 1.5 * (1 - 0.75 + 0.75 * doc_len / avgdl))), 6) AS keyword_score
       FROM tf JOIN dfc USING(term) CROSS JOIN corpus GROUP BY doc_id, page_no),
cand AS (
  SELECT sem.doc_id, sem.page_no, chunk_id, source_type, chunk_text, semantic_score,
         COALESCE(keyword_score, 0.0) AS keyword_score
  FROM sem LEFT JOIN kw ON sem.doc_id = kw.doc_id AND sem.page_no = kw.page_no
  WHERE semantic_score > 0 OR COALESCE(keyword_score, 0.0) > 0),
stats AS (SELECT MIN(semantic_score) mns, MAX(semantic_score) mxs,
                 MIN(keyword_score) mnk, MAX(keyword_score) mxk FROM cand),
scored AS (
  SELECT doc_id, page_no, chunk_id, source_type, chunk_text,
         lpad(CAST(chunk_id AS VARCHAR), 6, '0') || '|' || source_type AS tb,
         ROUND(0.6 * (CASE WHEN (mxs - mns) < 1e-8 THEN 0.5 ELSE (semantic_score - mns) / (mxs - mns) END)
             + 0.4 * (CASE WHEN (mxk - mnk) < 1e-8 THEN 0.5 ELSE (keyword_score - mnk) / (mxk - mnk) END), 6) AS combined_score
  FROM cand CROSS JOIN stats),
pool AS (
  SELECT * FROM scored
  ORDER BY combined_score DESC, doc_id ASC, page_no ASC, tb ASC
  LIMIT 50),
rescored AS (
  SELECT doc_id, page_no, chunk_id, source_type, tb, combined_score,
         ROUND(CAST(len(list_intersect(
                 list_distinct(list_transform(generate_series(1, GREATEST(len({_TOKS}) - 1, 0)),
                                              i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1])),
                 {_QBIGRAMS})) AS DOUBLE) / {_QBIGRAM_DIV}, 6) AS rerank_score
  FROM pool),
deduped AS (
  SELECT * FROM rescored
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY doc_id, page_no
    ORDER BY rerank_score DESC, combined_score DESC, tb ASC) = 1)
SELECT doc_id, page_no, chunk_id, source_type, combined_score, rerank_score
FROM deduped
ORDER BY rerank_score DESC, combined_score DESC, doc_id ASC, page_no ASC, chunk_id ASC
LIMIT 10
"""


# --- F14: query filter inference ---------------------------------------------

_QUERIES = [
    (1, "alpha 2021 revenue report"),
    (2, "beta 2019년 실적 요약"),
    (3, "gamma quarterly totals"),
    (4, "delta 2024 emissions summary"),
    (5, "alpha corp 2017 audit"),
    (6, "unrelated 1999 archive"),
]
_ALIASES = [("alpha", "AlphaCorp"), ("beta", "BetaInc"),
            ("gamma", "GammaLtd"), ("delta", "DeltaCo")]
_COMPANIES = [c for _, c in _ALIASES]


def q_query_filter_inference(spark, sf_dir):
    """F14 (reference rag_answer.py:40-57 -> search_vector_db.py:208-218):
    extract a year (`20NN` / `NN년`) and a company alias from the query
    string and push both as metadata equality filters; returns the
    inferred filters + the matching-document count per query.

    Document metadata is synthesized deterministically (year =
    2015 + doc_id % 10, company on a % 4 stride) so the filter
    semantics are oracle-checkable.  The inferred-filter join is a
    broadcast of the (tiny) query table — no shuffle of documents.
    """
    prepare(spark)
    q = spark.createDataFrame(_QUERIES, "query_id long, query string")
    # year kept as STRING: a nullable-int column round-trips through
    # pandas as float NaN and breaks the driver's value hash
    year = F.nullif(F.regexp_extract("query", r"(20\d{2})", 1), F.lit(""))
    company = F.lit(None).cast("string")
    for alias, canon in reversed(_ALIASES):
        company = F.when(
            F.contains(F.col("query"), F.lit(alias)), F.lit(canon)
        ).otherwise(company)
    inferred = q.select("query_id", "query", year.alias("year"), company.alias("company"))

    d = _t(spark, sf_dir, "documents").select(
        (F.lit(2015) + F.col("doc_id") % 10).cast("string").alias("meta_year"),
        F.element_at(
            F.array(*[F.lit(c) for c in _COMPANIES]),
            (F.col("doc_id") % 4 + 1).cast("int"),
        ).alias("meta_company"),
    )
    joined = d.crossJoin(F.broadcast(inferred)).filter(
        (F.col("year").isNull() | (F.col("meta_year") == F.col("year")))
        & (F.col("company").isNull() | (F.col("meta_company") == F.col("company")))
    )
    counts = joined.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        inferred.join(counts, "query_id", "left")
        .select(
            "query_id", "query", "year", "company",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
    )


_SQL_QROWS = ", ".join(f"({i}, '{s}')" for i, s in _QUERIES)
_SQL_COMPANY = " ".join(
    f"WHEN contains(query, '{a}') THEN '{c}'" for a, c in _ALIASES
)
_SQL_COMPANIES = ", ".join(f"'{c}'" for c in _COMPANIES)

SQL_QUERY_FILTER_INFERENCE = f"""
WITH q(query_id, query) AS (VALUES {_SQL_QROWS}),
inferred AS (
  SELECT query_id, query,
         NULLIF(regexp_extract(query, '(20\\d{{2}})', 1), '') AS year,
         CASE {_SQL_COMPANY} END AS company
  FROM q),
meta AS (
  SELECT CAST(2015 + doc_id % 10 AS VARCHAR) AS meta_year,
         ([{_SQL_COMPANIES}])[CAST(doc_id % 4 AS INTEGER) + 1] AS meta_company
  FROM documents),
counts AS (
  SELECT query_id, COUNT(*) AS n_docs
  FROM meta CROSS JOIN inferred
  WHERE (year IS NULL OR meta_year = year)
    AND (company IS NULL OR meta_company = company)
  GROUP BY query_id)
SELECT inferred.query_id, query, year, company,
       CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs
FROM inferred LEFT JOIN counts ON inferred.query_id = counts.query_id
"""


# --- embedding-build -> ANN loop ----------------------------------------------

def q_hash_embed_ann(spark, sf_dir):
    """Embedding-build stage (deterministic hash embedding, reference
    build_vector_db.py:381-389) feeding cosine top-k: documents ->
    embed -> ANN against doc 0's vector.  Catalyst end-to-end."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", hash_embedding_col("text").alias("embedding")
    )
    return similarity.cosine_topk(
        d, probe_id=0, k=10, id_col="doc_id", vec_col="embedding"
    )


_E = embed_sql("text")

SQL_HASH_EMBED_ANN = f"""
WITH emb AS (SELECT doc_id, {_E} AS e FROM documents),
probe AS (SELECT e AS p FROM emb WHERE doc_id = 0),
pairs AS (
  SELECT emb.doc_id,
         list_sum(list_transform(generate_series(1, {EMBED_DIM}),
                  i -> emb.e[i] * probe.p[i])) AS dot,
         sqrt(list_sum(list_transform(generate_series(1, {EMBED_DIM}),
                  i -> emb.e[i] * emb.e[i]))) AS na,
         sqrt(list_sum(list_transform(generate_series(1, {EMBED_DIM}),
                  i -> probe.p[i] * probe.p[i]))) AS np
  FROM emb CROSS JOIN probe WHERE emb.doc_id <> 0)
SELECT doc_id, ROUND(dot / (na * np), 6) AS cosine
FROM pairs ORDER BY cosine DESC, doc_id ASC LIMIT 10
"""


QUERIES = {
    "chunk_hybrid_topk": q_chunk_hybrid_topk,
    "chunk_rerank_topk": q_chunk_rerank_topk,
    "query_filter_inference": q_query_filter_inference,
    "hash_embed_ann": q_hash_embed_ann,
}

ORACLE_SQL = {
    "chunk_hybrid_topk": SQL_CHUNK_HYBRID_TOPK,
    "chunk_rerank_topk": SQL_CHUNK_RERANK_TOPK,
    "query_filter_inference": SQL_QUERY_FILTER_INFERENCE,
    "hash_embed_ann": SQL_HASH_EMBED_ANN,
}
