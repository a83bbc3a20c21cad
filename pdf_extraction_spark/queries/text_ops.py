"""Text / dedup / similarity / quality / multimodal operator queries
with DuckDB oracle twins (SURVEY.md §2 F/A classes + the training-data
pipeline operators the engine adds as first-class components).

Some oracle SQL strings are composed programmatically (LSH hyperplanes,
language CASE chains) so both engines provably evaluate the same
formula.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup, quality, retrieval, similarity
from ..operators.quality import ALL_STOPWORDS, STOPWORDS

QUERY_TERMS = ["spark", "join", "table"]

from .common import table as _t


_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"


# --- F15/A1/A2: normalization + prefix frequency + threshold ---------------

def q_normalized_prefixes(spark, sf_dir):
    """F15 normalize + A1 distinct-per-doc prefix counts per source."""
    d = _t(spark, sf_dir, "documents")
    norm = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), r"\d+", "N"), r"\s+", " "
            )
        )
    )
    pre = d.select("source", "doc_id", F.substring(norm, 1, 15).alias("prefix")).distinct()
    return pre.groupBy("source", "prefix").agg(F.count(F.lit(1)).alias("n_docs"))


SQL_NORMALIZED_PREFIXES = """
SELECT source, prefix, COUNT(*) AS n_docs FROM (
  SELECT DISTINCT source, doc_id,
         substr(lower(trim(regexp_replace(regexp_replace(text, '\\d+', 'N', 'g'), '\\s+', ' ', 'g'))), 1, 15) AS prefix
  FROM documents)
GROUP BY source, prefix
"""


def q_boilerplate_threshold(spark, sf_dir):
    """A2: HAVING count >= max(3, floor(0.2 * docs-per-source))."""
    counts = q_normalized_prefixes(spark, sf_dir)
    per_source = (
        _t(spark, sf_dir, "documents").groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    )
    return (
        counts.join(per_source, "source")
        .filter(
            F.col("n_docs")
            >= F.greatest(F.lit(3).cast("long"), F.floor(F.col("n_total") * 0.2))
        )
        .select("source", "prefix", "n_docs")
    )


SQL_BOILERPLATE_THRESHOLD = """
WITH counts AS (
  SELECT source, prefix, COUNT(*) AS n_docs FROM (
    SELECT DISTINCT source, doc_id,
           substr(lower(trim(regexp_replace(regexp_replace(text, '\\d+', 'N', 'g'), '\\s+', ' ', 'g'))), 1, 15) AS prefix
    FROM documents)
  GROUP BY source, prefix),
tot AS (SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source)
SELECT counts.source, prefix, n_docs
FROM counts JOIN tot ON counts.source = tot.source
WHERE n_docs >= GREATEST(3, CAST(FLOOR(n_total * 0.2) AS BIGINT))
"""


# --- F18/F19: number token extraction + normalization ------------------------

def q_number_tokens(spark, sf_dir):
    """reference table_diff.py:14,36-39 over the events.props JSON."""
    e = _t(spark, sf_dir, "events")
    toks = e.select(
        F.explode(
            F.regexp_extract_all(
                "props", F.lit(r"[-+]?\d+(?:,\d{3})*(?:\.\d+)?%?"), F.lit(0)
            )
        ).alias("tok")
    )
    return (
        toks.select(F.replace(F.col("tok"), F.lit(","), F.lit("")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_NUMBER_TOKENS = """
SELECT replace(tok, ',', '') AS token, COUNT(*) AS n
FROM (SELECT unnest(regexp_extract_all(props, '[-+]?\\d+(?:,\\d{3})*(?:\\.\\d+)?%?')) AS tok
      FROM events)
GROUP BY 1
"""


# --- F11/F12: cell value parsing ---------------------------------------------

def q_unit_parse(spark, sf_dir):
    """reference parse_cell_value (load_to_db.py:129-154) over
    deterministically constructed cell strings."""
    li = _t(spark, sf_dir, "lineitem")
    unit = F.element_at(
        F.array(F.lit("kg"), F.lit("tCO2eq"), F.lit("%"), F.lit("MWh"), F.lit("")),
        (F.col("l_linenumber") % 5 + 1).cast("int"),
    )
    raw = F.concat(
        F.col("l_suppkey").cast("string"), F.lit(","),
        F.lpad(F.col("l_partkey").cast("string"), 3, "0"), F.lit("."),
        F.col("l_linenumber").cast("string"),
        F.when(unit == "%", F.lit("")).otherwise(F.lit(" ")), unit,
    )
    d = li.select("l_orderkey", "l_linenumber", raw.alias("raw"))
    num_str = F.regexp_extract("raw", r"^([-+]?[\d,]+(?:\.\d+)?)\s*(.*)$", 1)
    unit_str = F.trim(F.regexp_extract("raw", r"^([-+]?[\d,]+(?:\.\d+)?)\s*(.*)$", 2))
    numeric = F.expr(
        "try_cast(replace(regexp_extract(raw, '^([-+]?[\\\\d,]+(?:\\\\.\\\\d+)?)\\\\s*(.*)$', 1), ',', '') AS decimal(20,4))"
    )
    return d.select(
        "l_orderkey",
        "l_linenumber",
        "raw",
        numeric.cast("double").alias("numeric_value"),
        F.when(numeric.isNotNull() & (F.length(F.substring(unit_str, 1, 50)) > 0),
               F.substring(unit_str, 1, 50)).alias("unit"),
        F.when(numeric.isNotNull(), F.lit("number")).otherwise(F.lit("text")).alias("content_type"),
    )


SQL_UNIT_PARSE = """
WITH d AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_suppkey AS VARCHAR) || ',' || lpad(CAST(l_partkey AS VARCHAR), 3, '0')
           || '.' || CAST(l_linenumber AS VARCHAR)
           || CASE WHEN (l_linenumber % 5) = 2 THEN '' ELSE ' ' END
           || (['kg','tCO2eq','%','MWh',''])[(l_linenumber % 5) + 1] AS raw
  FROM lineitem),
p AS (
  SELECT *, regexp_extract(raw, '^([-+]?[\\d,]+(?:\\.\\d+)?)\\s*(.*)$', 1) AS num_str,
         trim(regexp_extract(raw, '^([-+]?[\\d,]+(?:\\.\\d+)?)\\s*(.*)$', 2)) AS unit_str,
         TRY_CAST(replace(regexp_extract(raw, '^([-+]?[\\d,]+(?:\\.\\d+)?)\\s*(.*)$', 1), ',', '') AS DECIMAL(20,4)) AS numeric
  FROM d)
SELECT l_orderkey, l_linenumber, raw,
       CAST(numeric AS DOUBLE) AS numeric_value,
       CASE WHEN numeric IS NOT NULL AND length(substr(unit_str, 1, 50)) > 0
            THEN substr(unit_str, 1, 50) END AS unit,
       CASE WHEN numeric IS NOT NULL THEN 'number' ELSE 'text' END AS content_type
FROM p
"""


# --- A6-A8: BM25 --------------------------------------------------------------

def q_bm25_documents(spark, sf_dir):
    docs = retrieval.with_tokens(_t(spark, sf_dir, "documents"), "text")
    return retrieval.bm25_scores(docs, QUERY_TERMS).select(
        "doc_id", F.round("keyword_score", 6).alias("keyword_score")
    )


SQL_BM25 = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
dl AS (SELECT doc_id, len(toks) AS doc_len, toks FROM d),
corpus AS (SELECT COUNT(*) AS n_docs, AVG(doc_len) AS avgdl FROM dl),
terms AS (SELECT doc_id, doc_len, unnest(toks) AS term FROM dl),
qt AS (SELECT * FROM (VALUES ('spark'),('join'),('table')) q(term)),
dfc AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms JOIN qt USING(term) GROUP BY term),
tf AS (SELECT doc_id, doc_len, term, COUNT(*) AS tf FROM terms JOIN qt USING(term) GROUP BY ALL)
SELECT doc_id,
       ROUND(SUM(LN(1 + (n_docs - df + 0.5) / (df + 0.5))
                 * (tf * 2.5) / (tf + 1.5 * (1 - 0.75 + 0.75 * doc_len / avgdl))), 6) AS keyword_score
FROM tf JOIN dfc USING(term) CROSS JOIN corpus
GROUP BY doc_id
"""


# --- hybrid retrieval (flagship composition) ----------------------------------

def q_hybrid_retrieval(spark, sf_dir):
    return retrieval.hybrid_search(
        _t(spark, sf_dir, "documents"), query=" ".join(QUERY_TERMS), top_k=10
    )


SQL_HYBRID = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
dl AS (SELECT doc_id, len(toks) AS doc_len, toks FROM d),
corpus AS (SELECT COUNT(*) AS n_docs, AVG(doc_len) AS avgdl FROM dl),
terms AS (SELECT doc_id, doc_len, unnest(toks) AS term FROM dl),
qt AS (SELECT * FROM (VALUES ('spark'),('join'),('table')) q(term)),
dfc AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms JOIN qt USING(term) GROUP BY term),
tf AS (SELECT doc_id, doc_len, term, COUNT(*) AS tf FROM terms JOIN qt USING(term) GROUP BY ALL),
kw AS (SELECT doc_id,
              ROUND(SUM(LN(1 + (n_docs - df + 0.5) / (df + 0.5))
                        * (tf * 2.5) / (tf + 1.5 * (1 - 0.75 + 0.75 * doc_len / avgdl))), 6) AS keyword_score
       FROM tf JOIN dfc USING(term) CROSS JOIN corpus GROUP BY doc_id),
sem AS (SELECT doc_id,
               ROUND(CAST(len(list_intersect(list_distinct(toks), ['join','spark','table'])) AS DOUBLE)
                     / len(list_distinct(list_concat(list_distinct(toks), ['join','spark','table']))), 6) AS semantic_score
        FROM dl),
cand AS (
  SELECT sem.doc_id, semantic_score, COALESCE(keyword_score, 0.0) AS keyword_score
  FROM sem LEFT JOIN kw ON sem.doc_id = kw.doc_id
  WHERE semantic_score > 0 OR COALESCE(keyword_score, 0.0) > 0),
stats AS (SELECT MIN(semantic_score) mns, MAX(semantic_score) mxs,
                 MIN(keyword_score) mnk, MAX(keyword_score) mxk FROM cand),
normed AS (
  SELECT doc_id, semantic_score, keyword_score,
         CASE WHEN (mxs - mns) < 1e-8 THEN 0.5 ELSE (semantic_score - mns) / (mxs - mns) END AS sem_norm,
         CASE WHEN (mxk - mnk) < 1e-8 THEN 0.5 ELSE (keyword_score - mnk) / (mxk - mnk) END AS kw_norm
  FROM cand CROSS JOIN stats)
SELECT doc_id, semantic_score, keyword_score,
       ROUND(0.6 * sem_norm + 0.4 * kw_norm, 6) AS combined_score
FROM normed
ORDER BY combined_score DESC, doc_id ASC
LIMIT 10
"""


# --- dedup family --------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT doc_id, n_dups FROM (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY text) AS n_dups
  FROM documents)
WHERE rn = 1
"""

_SH = (
    "SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle "
    f"FROM (SELECT doc_id, {_TOKS} AS toks FROM documents) WHERE len(toks) >= 3"
)


def q_minhash_signatures(spark, sf_dir):
    return dedup.minhash_signature(_t(spark, sf_dir, "documents"))


# h_j = min over shingles of the j-th 32-bit window of md5(shingle):
# one digest feeds all hash functions (dedup.py:minhash_signature)
_SIG = """SELECT doc_id,
  MIN(CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)) AS h0,
  MIN(CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT)) AS h1,
  MIN(CAST(('0x' || substr(md5(shingle), 17, 8)) AS BIGINT)) AS h2,
  MIN(CAST(('0x' || substr(md5(shingle), 25, 8)) AS BIGINT)) AS h3
FROM sh GROUP BY doc_id"""

SQL_MINHASH = f"""
WITH sh AS ({_SH})
{_SIG}
"""


def q_lsh_pairs(spark, sf_dir):
    return dedup.lsh_candidate_pairs(_t(spark, sf_dir, "documents"))


SQL_LSH_PAIRS = f"""
WITH sh AS ({_SH}),
sig AS ({_SIG}),
bands AS (
  SELECT doc_id, h0, h1, h2, h3, 0 AS band,
         md5(CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR)) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, h0, h1, h2, h3, 1 AS band,
         md5(CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR)) AS bucket FROM sig),
admitted AS (
  SELECT * FROM bands
  QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= {dedup.LSH_BUCKET_CAP})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(((CASE WHEN a.h0 = b.h0 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN a.h1 = b.h1 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN a.h2 = b.h2 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN a.h3 = b.h3 THEN 1.0 ELSE 0.0 END)) / 4.0, 6) AS sim_est
FROM admitted a JOIN admitted b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


def q_jaccard_adjacent(spark, sf_dir):
    return dedup.ngram_jaccard_adjacent(_t(spark, sf_dir, "documents"))


SQL_JACCARD_ADJACENT = f"""
WITH d AS (SELECT doc_id, list_distinct({_TOKS}) AS ws FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
             / len(list_distinct(list_concat(a.ws, b.ws))), 6) AS jaccard
FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
"""


def q_simhash(spark, sf_dir):
    return dedup.simhash16(_t(spark, sf_dir, "documents"))


SQL_SIMHASH = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents),
h AS (SELECT doc_id, substr(md5(w), 1, 4) AS hx FROM tok),
bits AS (SELECT doc_id, hx, unnest(generate_series(0, 15)) AS bit FROM h),
v AS (SELECT doc_id, bit,
             SUM(CASE WHEN CAST(FLOOR((strpos('0123456789abcdef', substr(hx, CAST(bit // 4 AS INTEGER) + 1, 1)) - 1)
                                       / pow(2, bit % 4)) AS BIGINT) % 2 = 1
                      THEN 1 ELSE -1 END) AS vote
      FROM bits GROUP BY doc_id, bit)
SELECT doc_id, CAST(SUM(CASE WHEN vote >= 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM v GROUP BY doc_id
"""


# --- quality / text analysis ----------------------------------------------------

def q_lang_id(spark, sf_dir):
    return quality.lang_id(_t(spark, sf_dir, "documents"))


def _sql_lang_id() -> str:
    langs = sorted(STOPWORDS)
    hits = ",\n       ".join(
        "CAST(SUM(CASE WHEN w IN ({}) THEN 1 ELSE 0 END) AS BIGINT) AS hits_{}".format(
            ", ".join(f"'{w}'" for w in STOPWORDS[lang]), lang
        )
        for lang in langs
    )
    best = "GREATEST({})".format(", ".join(f"hits_{lang}" for lang in langs))
    case = " ".join(
        f"WHEN hits_{lang} = best THEN '{lang}'" for lang in langs
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents),
agg AS (SELECT doc_id, {hits} FROM tok GROUP BY doc_id),
b AS (SELECT *, {best} AS best FROM agg)
SELECT doc_id, CASE WHEN best = 0 THEN 'und' {case} ELSE 'und' END AS pred_lang,
       CAST(best AS BIGINT) AS hits
FROM b
"""


def q_quality_score(spark, sf_dir):
    return quality.quality_score(_t(spark, sf_dir, "documents"))


_STOPLIST_SQL = ", ".join(f"'{w}'" for w in ALL_STOPWORDS)

SQL_QUALITY = f"""
WITH d AS (SELECT doc_id, length(text) AS n_chars, {_TOKS} AS toks FROM documents),
m AS (SELECT doc_id, n_chars, len(toks) AS n_tokens,
             len(list_filter(toks, t -> t IN ({_STOPLIST_SQL}))) AS n_stop
      FROM d)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND((n_chars - (n_tokens - 1)) / n_tokens, 6) AS mean_word_len,
       ROUND(n_stop / n_tokens, 6) AS stopword_ratio,
       ROUND(LEAST(n_tokens / 100.0, 1.0) * 0.5
           + LEAST((n_stop / n_tokens) * 5.0, 1.0) * 0.3
           + LEAST(((n_chars - (n_tokens - 1)) / n_tokens) / 8.0, 1.0) * 0.2, 6) AS quality
FROM m
"""


def q_token_counts(spark, sf_dir):
    return quality.token_counts(_t(spark, sf_dir, "documents"))


SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS BIGINT) AS ws_tokens,
       CAST(len(list_filter(string_split_regex(text, '[^0-9A-Za-z_]+'), x -> x <> '')) AS BIGINT) AS re_tokens,
       CAST(CEIL(length(text) / 4.0) AS BIGINT) AS bpe_estimate
FROM documents
"""


def q_fingerprint(spark, sf_dir):
    return quality.fingerprint(_t(spark, sf_dir, "documents"))


SQL_FINGERPRINT = f"""
WITH sh AS ({_SH}),
ms AS (SELECT doc_id, MIN(md5(shingle)) AS min_shingle_hash FROM sh GROUP BY doc_id)
SELECT d.doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_md5,
       ms.min_shingle_hash
FROM documents d LEFT JOIN ms ON d.doc_id = ms.doc_id
"""


# --- similarity search -----------------------------------------------------------

def q_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk(_t(spark, sf_dir, "embeddings"), probe_id=0, k=10)


SQL_COSINE_TOPK = """
WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT e.vec_id,
         list_sum(list_transform(generate_series(1, 64),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(probe.p[i] AS DOUBLE))) AS dot,
         sqrt(list_sum(list_transform(generate_series(1, 64),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS na,
         sqrt(list_sum(list_transform(generate_series(1, 64),
                  i -> CAST(probe.p[i] AS DOUBLE) * CAST(probe.p[i] AS DOUBLE)))) AS np
  FROM embeddings e CROSS JOIN probe WHERE e.vec_id <> 0)
SELECT vec_id, ROUND(dot / (na * np), 6) AS cosine
FROM pairs ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def _sql_lsh_buckets() -> str:
    bits = []
    for p in range(similarity.N_PLANES):
        signs = ", ".join(
            str(similarity.hyperplane_sign_value(p, i)) for i in range(64)
        )
        proj = (
            "list_sum(list_transform(generate_series(1, 64), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ([{signs}])[i]))"
        )
        bits.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
    concat = " || ".join(bits)
    return f"SELECT vec_id, {concat} AS bucket FROM embeddings"


def q_ann_lsh_topk(spark, sf_dir):
    return similarity.ann_lsh_topk(_t(spark, sf_dir, "embeddings"), probe_id=0, k=5)


def _sql_ann_lsh_topk() -> str:
    return f"""
WITH buckets AS ({_sql_lsh_buckets()}),
probe_b AS (SELECT bucket AS pb FROM buckets WHERE vec_id = 0),
probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
cand AS (SELECT e.vec_id, e.embedding FROM embeddings e
         JOIN buckets USING (vec_id) CROSS JOIN probe_b
         WHERE buckets.bucket = pb AND e.vec_id <> 0),
pairs AS (
  SELECT cand.vec_id,
         list_sum(list_transform(generate_series(1, 64),
                  i -> CAST(cand.embedding[i] AS DOUBLE) * CAST(probe.p[i] AS DOUBLE))) AS dot,
         sqrt(list_sum(list_transform(generate_series(1, 64),
                  i -> CAST(cand.embedding[i] AS DOUBLE) * CAST(cand.embedding[i] AS DOUBLE)))) AS na,
         sqrt(list_sum(list_transform(generate_series(1, 64),
                  i -> CAST(probe.p[i] AS DOUBLE) * CAST(probe.p[i] AS DOUBLE)))) AS np
  FROM cand CROSS JOIN probe)
SELECT vec_id, ROUND(dot / (na * np), 6) AS cosine
FROM pairs ORDER BY cosine DESC, vec_id ASC LIMIT 5
"""


# --- multimodal metadata ------------------------------------------------------------

def q_multimodal_meta(spark, sf_dir):
    """Opaque binary payload plumbing: byte length + content hash
    (decode itself is the stubbed map_rows path, operators/multimodal.py)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
        F.md5(F.col("text")).alias("content_md5"),
    )


SQL_MULTIMODAL_META = """
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
"""




# --- retrieval modes: semantic-only (reference mode dispatch) + rerank ---------

def q_semantic_topk(spark, sf_dir):
    return retrieval.semantic_search(
        _t(spark, sf_dir, "documents"), query=" ".join(QUERY_TERMS), top_k=10
    )


SQL_SEMANTIC_TOPK = f"""
WITH d AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents)
SELECT doc_id,
       ROUND(CAST(len(list_intersect(toks, ['join','spark','table'])) AS DOUBLE)
             / len(list_distinct(list_concat(toks, ['join','spark','table']))), 6) AS semantic_score
FROM d
WHERE len(list_intersect(toks, ['join','spark','table'])) > 0
ORDER BY semantic_score DESC, doc_id ASC LIMIT 10
"""


def q_rerank_topk(spark, sf_dir):
    """W3/W4: top-50 hybrid pool re-scored by the deterministic
    CrossEncoder stand-in (query-bigram recall), top-5."""
    return retrieval.rerank(
        _t(spark, sf_dir, "documents"), query=" ".join(QUERY_TERMS),
        pool=50, top_k=5,
    )


_POOL_SQL = SQL_HYBRID.replace("LIMIT 10", "LIMIT 50")

SQL_RERANK_TOPK = f"""
WITH pool AS ({_POOL_SQL}),
bg AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(toks) - 1),
                                      i -> toks[i] || ' ' || toks[i+1])) AS bigrams
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents) WHERE len(toks) >= 2)
SELECT pool.doc_id, combined_score,
       ROUND(len(list_intersect(bg.bigrams, ['spark join', 'join table'])) / 2.0, 6) AS rerank_score
FROM pool JOIN bg ON pool.doc_id = bg.doc_id
ORDER BY rerank_score DESC, combined_score DESC, pool.doc_id ASC
LIMIT 5
"""


QUERIES = {
    "boilerplate_threshold": q_boilerplate_threshold,
    "number_tokens": q_number_tokens,
    "unit_parse": q_unit_parse,
    "bm25_documents": q_bm25_documents,
    "hybrid_retrieval": q_hybrid_retrieval,
    "dedup_exact": q_dedup_exact,
    "minhash_signatures": q_minhash_signatures,
    "lsh_pairs": q_lsh_pairs,
    "jaccard_adjacent": q_jaccard_adjacent,
    "simhash": q_simhash,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "token_counts": q_token_counts,
    "fingerprint": q_fingerprint,
    "cosine_topk": q_cosine_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "multimodal_meta": q_multimodal_meta,
    "semantic_topk": q_semantic_topk,
    "rerank_topk": q_rerank_topk,
}

ORACLE_SQL = {
    "boilerplate_threshold": SQL_BOILERPLATE_THRESHOLD,
    "number_tokens": SQL_NUMBER_TOKENS,
    "unit_parse": SQL_UNIT_PARSE,
    "bm25_documents": SQL_BM25,
    "hybrid_retrieval": SQL_HYBRID,
    "dedup_exact": SQL_DEDUP_EXACT,
    "minhash_signatures": SQL_MINHASH,
    "lsh_pairs": SQL_LSH_PAIRS,
    "jaccard_adjacent": SQL_JACCARD_ADJACENT,
    "simhash": SQL_SIMHASH,
    "lang_id": _sql_lang_id(),
    "quality_score": SQL_QUALITY,
    "token_counts": SQL_TOKEN_COUNTS,
    "fingerprint": SQL_FINGERPRINT,
    "cosine_topk": SQL_COSINE_TOPK,
    "ann_lsh_topk": _sql_ann_lsh_topk(),
    "multimodal_meta": SQL_MULTIMODAL_META,
    "semantic_topk": SQL_SEMANTIC_TOPK,
    "rerank_topk": SQL_RERANK_TOPK,
}
