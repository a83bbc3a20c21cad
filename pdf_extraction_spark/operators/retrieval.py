"""Stage 6 — retrieval: BM25, hybrid scoring, dedup windows, top-k.

Distributed re-expression of the reference's search path
(search_vector_db.py): the Candidate dataclass becomes a DataFrame with
score columns; BM25 corpus statistics (A6-A8) are aggregations; min-max
normalization (A9) is a broadcast cross-join against a global agg;
0.6/0.4 weighted combine (A10); rank-1-per-group dedup (W5); top-k
(W1).  The reference's 2000-doc keyword scan cap
(MAX_KEYWORD_DOCS) is dropped — Spark scans the full corpus.

The semantic scorer is a deterministic stand-in (north_rule: no
external embedding models): word-set Jaccard between document and
query — order-insensitive and SQL-expressible, so the DuckDB oracle
can replay the whole hybrid computation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..constants import (
    BM25_B,
    BM25_K1,
    KEYWORD_WEIGHT,
    NORM_EPS,
    RERANK_CANDIDATES,
    SEMANTIC_WEIGHT,
)
from .partitioning import ensure_parallelism


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokenization (the corpus is space-tokenizable by
    construction; the reference's Korean morpheme tokenizer is out of
    scope per SURVEY.md §7.5).

    GUARDED since round 6 (ensure_parallelism BEFORE the tokens
    project, so the split itself parallelizes): rounds 2-3 measured the
    guard losing at sf0.1 (BENCH/BM25_FORMS.md, r2_noguard 0.484s vs
    guarded 0.580s) — but that was the old 3-scan BM25 shape, where
    every scan re-paid the guard.  The round-6 compact-frame BM25 pays
    ONE guard exchange for ONE text pass, and at the driver's sf1.0
    the unguarded fused scan ran the whole tokenize on a single core
    (documents.parquet is one row group): guarded hybrid measured
    3.43s -> ~1s (OPTIMIZATION_r06.md).  At scale the scan arrives
    with >= core-count splits and the guard is a no-op."""
    return ensure_parallelism(df).withColumn(
        "tokens",
        F.filter(F.split(F.col(text_col), " "), lambda t: t != ""),
    ).withColumn("doc_len", F.size("tokens"))


def _regex_literal(term: str) -> str:
    """Escape ``term`` for literal use inside a Java regex (escape every
    non-alphanumeric; escaping letters/digits could create classes)."""
    return "".join(
        c if (c.isalnum() or c == "_") else "\\" + c for c in term
    )


def _tf_col(term: str, text_col: str) -> Column:
    """Occurrences of ``term`` as a whitespace token of ``text_col``,
    with ZERO array materialization: a token equals a maximal run of
    non-space characters (the tokenizer is split-on-' ' minus empties),
    so tf = regexp_count of the literal term bounded by ' '/\\A/\\z
    (zero-width lookarounds, so adjacent occurrences all count).
    Value-identical to counting split-tokens == term.  The former
    array form (size(tokens) - size(array_remove(tokens, term)))
    allocated the token array per tf column and collapsed under
    memory-bandwidth contention — the same pathology measured for
    token_counts' regex split (OPTIMIZATION_r06.md), with the same
    cure.  A term containing a space can never be a token -> 0."""
    if not term or " " in term:
        return F.lit(0)
    # \A/\z, not ^/$: Java's $ also matches before a final newline
    pat = r"(?<=\A| )" + _regex_literal(term) + r"(?= |\z)"
    return F.regexp_count(F.col(text_col), F.lit(pat))


def _doc_len_col(text_col: str) -> Column:
    """size(split-on-' ' minus empties) == count of maximal non-space
    runs — same integer, no array built."""
    return F.regexp_count(F.col(text_col), F.lit("[^ ]+"))


def _bm25_compact(
    docs: DataFrame, terms: list[str], id_col: str, extra: list[Column],
    text_col: str = "text",
) -> DataFrame:
    """The 40-byte-per-doc proxy frame every BM25 consumer derives
    from: (id, doc_len, _tf<j> per query term, plus caller extras) — a
    narrow projection, so downstream branches (corpus stats, df counts,
    scoring) carry keys and counts instead of text payloads (guide
    §2.3).

    Input parallelism comes from the guard (a no-op when the caller's
    frame is already guarded/parallel).  Each consumer branch (stats
    aggregate, minmax, scoring) recomputes this projection from the
    guarded scan: the recompute is embarrassingly parallel and
    measured CHEAPER than pinning one materialization — a
    repartition+localCheckpoint form cost ~0.3-0.4s of extra
    job/exchange overhead at both sf0.1 and sf1.0 (interleaved A/B:
    bm25 1.03 vs 0.59s at sf1.0) while the duplicated regexp passes
    cost ~0.1s on 32 cores."""
    return ensure_parallelism(docs).select(
        id_col,
        _doc_len_col(text_col).alias("doc_len"),
        *[_tf_col(t, text_col).alias(f"_tf{j}") for j, t in enumerate(terms)],
        *extra,
    )


def _bm25_stats_aggs(terms: list[str]) -> list[Column]:
    """Corpus stats + per-term doc frequencies in ONE tiny aggregate."""
    return [
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"_tf{j}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"_df{j}")
            for j in range(len(terms))
        ],
    ]


def _bm25_score_col(terms: list[str], k1: float, b: float) -> Column:
    """Row-local BM25 sum over the per-term tf columns (absent terms
    contribute exactly 0.0)."""
    score = F.lit(0.0)
    for j in range(len(terms)):
        tf = F.col(f"_tf{j}")
        df = F.col(f"_df{j}")
        idf = F.log(
            F.lit(1.0) + (F.col("n_docs") - df + 0.5) / (df + 0.5)
        )
        denom = tf + k1 * (1 - b + b * F.col("doc_len") / F.col("avgdl"))
        score = score + F.when(
            tf > 0, idf * (tf * (k1 + 1)) / denom
        ).otherwise(F.lit(0.0))
    return score


def _any_tf(terms: list[str]) -> Column:
    cond = F.lit(False)
    for j in range(len(terms)):
        cond = cond | (F.col(f"_tf{j}") > 0)
    return cond


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
) -> DataFrame:
    """-> (id_col, keyword_score). docs must carry ``text_col`` (raw
    text; tokens/doc_len from with_tokens are accepted but no longer
    required — tf/doc_len are regexp_counts over the text, so an
    unused tokens projection prunes away).
    reference: search_vector_db.py:61-85.

    Round-6 shape (guide §2.3/§2.4): per-term tf computed row-locally
    into a compact per-doc frame (one corpus scan instead of three —
    the old corpus-stats / explode-terms / explode-distinct-df subplans
    each re-tokenized the text); corpus stats AND df counts come from
    one tiny aggregate over that frame; the score is a row-local sum
    against the broadcast stats row.  Semantics identical: tf =
    occurrence count, df = docs containing the term, same idf/denom
    expressions, docs with no query term excluded."""
    terms = list(dict.fromkeys(query_terms))
    if not terms:
        return docs.select(id_col).filter(F.lit(False)).withColumn(
            "keyword_score", F.lit(0.0)
        )
    compact = _bm25_compact(docs, terms, id_col, [], text_col)
    stats = compact.agg(*_bm25_stats_aggs(terms))
    # The no-term filter is expressed on the POST-JOIN score column (null
    # when no term matched), NOT as a predicate on the tf columns: a
    # pre-join filter gets pushed below the compact exchange, which both
    # re-evaluates the tokenize on the (possibly single-task) scan side
    # and breaks the ReusedExchange with the stats branch.  A condition
    # referencing the broadcast stats row cannot be pushed below the
    # join, so the exchange subtrees stay identical and the text pass
    # runs once.
    score = F.when(
        _any_tf(terms), _bm25_score_col(terms, k1, b)
    ).otherwise(F.lit(None).cast("double"))
    return (
        compact.crossJoin(F.broadcast(stats))
        .select(id_col, score.alias("keyword_score"))
        .filter(F.col("keyword_score").isNotNull())
    )


def jaccard_semantic(
    docs: DataFrame, query_terms: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic semantic-score stand-in: word-set Jaccard."""
    q = F.array(*[F.lit(t) for t in sorted(set(query_terms))])
    dt = F.array_distinct("tokens")
    return docs.select(
        id_col,
        (
            F.size(F.array_intersect(dt, q))
            / F.size(F.array_union(dt, q))
        ).alias("semantic_score"),
    )


def minmax_normalize_many(
    df: DataFrame, cols: dict[str, str], eps: float = NORM_EPS
) -> DataFrame:
    """A9 (reference search_vector_db.py:160-166: constant -> 0.5) for
    several columns in ONE stats pass: a single global aggregate + one
    broadcast cross-join instead of one per column (hybrid normalizes
    two scores)."""
    aggs = []
    for col in cols:
        aggs += [F.min(col).alias(f"_mn_{col}"), F.max(col).alias(f"_mx_{col}")]
    j = df.crossJoin(F.broadcast(df.agg(*aggs)))
    for col, out_col in cols.items():
        mn, mx = F.col(f"_mn_{col}"), F.col(f"_mx_{col}")
        j = j.withColumn(
            out_col,
            F.when((mx - mn) < eps, F.lit(0.5)).otherwise((F.col(col) - mn) / (mx - mn)),
        )
    return j.drop(*[c for col in cols for c in (f"_mn_{col}", f"_mx_{col}")])


def hybrid_search(
    docs: DataFrame,
    query: str,
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hybrid mode (reference search_vector_db.py:247-254): semantic
    candidates -> BM25 rescore -> min-max normalize -> 0.6/0.4 combine
    -> top-k with deterministic tiebreak.

    Round-6 shape: ONE text pass builds a compact per-doc frame
    carrying doc_len, per-term tf AND the two semantic set sizes; both
    scores are then row-local math against one broadcast stats row
    (the old shape re-tokenized the corpus for the semantic scan, the
    BM25 corpus stats, the term explode and the df explode — four
    scans — and joined sem to kw through an exchange).  Score algebra
    unchanged: jaccard = |dt ∩ q| / |dt ∪ q| with
    |dt ∪ q| = |dt| + |q| - |dt ∩ q| (both sides distinct), BM25
    identical to bm25_scores, coalesce/round/filter order identical."""
    query_terms = [t for t in query.split(" ") if t]
    terms = list(dict.fromkeys(query_terms))
    n_q = len(set(query_terms))
    toks = with_tokens(docs, text_col)
    # |distinct tokens| still needs the token array (one build per row);
    # |distinct tokens ∩ q| does NOT: it equals the number of deduped
    # query terms with tf > 0, derived from the tf columns for free.
    compact = _bm25_compact(
        toks, terms, id_col,
        [F.size(F.array_distinct("tokens")).alias("_n_dt")],
        text_col,
    ).withColumn(
        "_n_int",
        sum(
            F.when(F.col(f"_tf{j}") > 0, 1).otherwise(0)
            for j in range(len(terms))
        ) if terms else F.lit(0),
    )
    stats = compact.agg(*_bm25_stats_aggs(terms))
    sem_score = F.col("_n_int") / (F.col("_n_dt") + F.lit(n_q) - F.col("_n_int"))
    kw_raw = F.when(
        _any_tf(terms), _bm25_score_col(terms, BM25_K1, BM25_B)
    ).otherwise(F.lit(None).cast("double"))
    cand = (
        compact.crossJoin(F.broadcast(stats))
        .select(
            id_col,
            sem_score.alias("semantic_score"),
            kw_raw.alias("keyword_score"),
        )
        .withColumn("keyword_score", F.round(F.coalesce("keyword_score", F.lit(0.0)), 6))
        .withColumn("semantic_score", F.round("semantic_score", 6))
        .filter((F.col("semantic_score") > 0) | (F.col("keyword_score") > 0))
    )
    cand = minmax_normalize_many(
        cand, {"semantic_score": "sem_norm", "keyword_score": "kw_norm"}
    )
    combined = (
        F.lit(SEMANTIC_WEIGHT) * F.col("sem_norm")
        + F.lit(KEYWORD_WEIGHT) * F.col("kw_norm")
    )
    return (
        cand.select(
            id_col,
            "semantic_score",
            "keyword_score",
            F.round(combined, 6).alias("combined_score"),
        )
        .orderBy(F.desc("combined_score"), F.asc(id_col))
        .limit(top_k)
    )


def semantic_search(
    docs: DataFrame, query: str, top_k: int = 10,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Semantic mode (reference search_vector_db.py:241-243): combined
    score IS the raw semantic score."""
    query_terms = [t for t in query.split(" ") if t]
    toks = with_tokens(docs, text_col)
    sem = jaccard_semantic(toks, query_terms, id_col)
    return (
        sem.filter(F.col("semantic_score") > 0)
        .select(id_col, F.round("semantic_score", 6).alias("semantic_score"))
        .orderBy(F.desc("semantic_score"), F.asc(id_col))
        .limit(top_k)
    )


def rerank(
    docs: DataFrame, query: str, pool: int = RERANK_CANDIDATES, top_k: int = 5,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """W3/W4 rerank: pool = top candidates by combined score, re-scored
    by a deterministic CrossEncoder stand-in (query-bigram recall: the
    fraction of the query's word bigrams present in the document),
    re-sorted (reference rerank_candidates, search_vector_db.py:181-193)."""
    terms = [t for t in query.split(" ") if t]
    q_bigrams = [f"{a} {b}" for a, b in zip(terms, terms[1:])]
    cand = hybrid_search(docs, query, top_k=pool, id_col=id_col, text_col=text_col)
    toks = with_tokens(docs, text_col).select(id_col, "tokens")
    bigrams = F.array_distinct(
        F.filter(
            F.zip_with(
                "tokens",
                F.slice("tokens", 2, 2_000_000),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            lambda s: F.size(F.split(s, " ")) == 2,  # drop the null-padded tail
        )
    )
    qb = F.array(*[F.lit(b) for b in q_bigrams])
    scored = cand.join(toks, id_col).withColumn(
        "rerank_score",
        F.round(
            F.size(F.array_intersect(bigrams, qb)) / F.lit(float(max(1, len(q_bigrams)))),
            6,
        ),
    )
    return (
        scored.select(id_col, "combined_score", "rerank_score")
        .orderBy(F.desc("rerank_score"), F.desc("combined_score"), F.asc(id_col))
        .limit(top_k)
    )


def dedup_rank1(
    df: DataFrame, group_cols: list[str], order_col: str, tiebreak: str
) -> DataFrame:
    """W5: keep the best row per group (reference dedup at
    search_vector_db.py:263-271)."""
    w = Window.partitionBy(*group_cols).orderBy(F.desc(order_col), F.asc(tiebreak))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def assemble_context(
    ranked: DataFrame,
    question: str,
    max_pages: int = 3,
    doc_col: str = "doc_id",
    page_col: str = "page_no",
    text_col: str = "chunk_text",
    order_col: str = "combined_score",
) -> DataFrame:
    """Deterministic context assembly (reference rag_answer.py:263-283,
    the non-LLM tail of the RAG path): ranked chunks group per unique
    (doc, page) in rank order, the top ``max_pages`` pages contribute a
    '[Extracted Text for <page>]' section whose chunk texts join with
    the reference's '\\n... \\n' separator; returns one row
    (question, context).  The LLM generation itself is out of scope
    (north rule: no external models)."""
    w = Window.partitionBy(doc_col, page_col)
    pages = (
        ranked.withColumn("_best", F.max(order_col).over(w))
        .groupBy(doc_col, page_col, "_best")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                (-F.col(order_col)).alias("nr"),
                                F.col(text_col).alias("t"),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
                "\n... \n",
            ).alias("texts")
        )
        .orderBy(F.desc("_best"), F.asc(doc_col), F.asc(page_col))
        .limit(max_pages)
    )
    section = F.concat(
        F.lit("\n[Extracted Text for "), F.col(doc_col).cast("string"),
        F.lit(" p."), F.col(page_col).cast("string"), F.lit("]:\n"),
        F.col("texts"), F.lit("\n\n"),
    )
    return pages.agg(
        F.concat(
            F.lit(f"Question: {question}\n\nContexts:\n"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                (-F.col("_best")).alias("nr"),
                                F.col(doc_col).alias("d"),
                                F.col(page_col).alias("p"),
                                section.alias("s"),
                            )
                        )
                    ),
                    lambda s: s["s"],
                ),
                "",
            ),
        ).alias("context")
    ).select(F.lit(question).alias("question"), "context")


def aggregate_page_text(
    chunks: DataFrame,
    doc_col: str = "doc_id",
    page_col: str = "page_no",
    order_col: str = "chunk_id",
    text_col: str = "chunk_text",
) -> DataFrame:
    """Page-aggregated text from page_text chunks, ordered by chunk id
    (reference aggregate_page_text, search_vector_db.py:133-157) —
    the text BM25 rescoring runs on in hybrid mode."""
    src = chunks
    if "source_type" in chunks.columns:
        src = chunks.filter(F.col("source_type") == "page_text")
    return (
        src.groupBy(doc_col, page_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col(order_col).alias("i"), F.col(text_col).alias("t")))
                    ),
                    lambda s: s["t"],
                ),
                " ",
            ).alias("page_text")
        )
    )


def chunk_hybrid_search(
    chunks: DataFrame,
    query: str,
    top_k: int = 10,
    doc_col: str = "doc_id",
    page_col: str = "page_no",
) -> DataFrame:
    """Hybrid retrieval at CHUNK granularity — the reference's primary
    query surface (search_vector_db.py:100-112 unions page- and
    chunk-collections; metadata carries source_type/doc/page ids,
    build_vector_db.py:354-366,473-527):

    1. semantic score per chunk (deterministic Jaccard stand-in);
    2. BM25 rescoring on the PAGE-AGGREGATED text of each candidate's
       page — not the raw chunk (aggregate_page_text,
       search_vector_db.py:133-157);
    3. min-max normalize + 0.6/0.4 combine (A9/A10);
    4. rank-1 dedup per (doc, page) on the ranked output
       (search_vector_db.py:263-271);
    5. deterministic global top-k.

    ``chunks`` must carry (doc_col, page_col, chunk_id, source_type,
    chunk_text).  All Catalyst; BM25 stats and per-term doc frequencies
    broadcast.
    """
    scored = _chunk_hybrid_scored(chunks, query, doc_col, page_col).drop(
        "chunk_text"
    )
    deduped = dedup_rank1(
        scored.withColumn(
            "_tb",
            F.concat_ws(
                "|", F.lpad(F.col("chunk_id").cast("string"), 6, "0"), "source_type"
            ),
        ),
        [doc_col, page_col], "combined_score", "_tb",
    ).drop("_tb")
    return deduped.orderBy(
        F.desc("combined_score"), F.asc(doc_col), F.asc(page_col), F.asc("chunk_id")
    ).limit(top_k)


def _chunk_hybrid_scored(
    chunks: DataFrame, query: str, doc_col: str, page_col: str
) -> DataFrame:
    """Shared hybrid scoring for the chunk-granularity paths: per-chunk
    semantic score, page-aggregated BM25, min-max + 0.6/0.4 combine.
    Keeps chunk_text so the rerank path can rescore without a join."""
    query_terms = [t for t in query.split(" ") if t]
    toks = with_tokens(chunks, "chunk_text")
    sem = toks.select(
        doc_col, page_col, "chunk_id", "source_type", "chunk_text",
        F.round(
            F.size(F.array_intersect(F.array_distinct("tokens"),
                                     F.array(*[F.lit(t) for t in sorted(set(query_terms))])))
            / F.size(F.array_union(F.array_distinct("tokens"),
                                   F.array(*[F.lit(t) for t in sorted(set(query_terms))]))),
            6,
        ).alias("semantic_score"),
    )
    pages = with_tokens(
        aggregate_page_text(chunks, doc_col, page_col), "page_text"
    ).withColumn("page_id", F.concat_ws("|", doc_col, page_col))
    kw = bm25_scores(pages, query_terms, id_col="page_id", text_col="page_text")
    page_kw = pages.select(doc_col, page_col, "page_id").join(
        kw, "page_id"
    ).select(doc_col, page_col, F.round("keyword_score", 6).alias("keyword_score"))
    cand = (
        sem.join(page_kw, [doc_col, page_col], "left")
        .withColumn("keyword_score", F.coalesce("keyword_score", F.lit(0.0)))
        .filter((F.col("semantic_score") > 0) | (F.col("keyword_score") > 0))
    )
    cand = minmax_normalize_many(
        cand, {"semantic_score": "sem_norm", "keyword_score": "kw_norm"}
    )
    combined = (
        F.lit(SEMANTIC_WEIGHT) * F.col("sem_norm")
        + F.lit(KEYWORD_WEIGHT) * F.col("kw_norm")
    )
    return cand.select(
        doc_col, page_col, "chunk_id", "source_type", "chunk_text",
        "semantic_score", "keyword_score",
        F.round(combined, 6).alias("combined_score"),
    )


def chunk_rerank_search(
    chunks: DataFrame,
    query: str,
    pool: int = RERANK_CANDIDATES,
    top_k: int = 10,
    doc_col: str = "doc_id",
    page_col: str = "page_no",
) -> DataFrame:
    """W3/W4 rerank on the CHUNK path, in the reference's order: hybrid
    candidate pool FIRST (search_vector_db.py:181-193), rank-1 dedup
    per (doc, page) AFTER the rerank rescoring (:263-271) — so a page
    is represented by its best RERANKED chunk, not its best hybrid one.

    1. hybrid-scored candidates (shared with chunk_hybrid_search);
    2. deterministic global pool cut: top ``pool`` by combined score;
    3. CrossEncoder stand-in rescoring: query-bigram recall over the
       CHUNK text (row-local array expression — the pool is small, so
       this stage is a TakeOrderedAndProject followed by per-row math);
    4. W5 dedup per (doc, page) on rerank_score;
    5. deterministic global top-k.
    """
    terms = [t for t in query.split(" ") if t]
    q_bigrams = [f"{a} {b}" for a, b in zip(terms, terms[1:])]
    scored = _chunk_hybrid_scored(chunks, query, doc_col, page_col)
    tb = F.concat_ws(
        "|", F.lpad(F.col("chunk_id").cast("string"), 6, "0"), "source_type"
    )
    pooled = (
        scored.withColumn("_tb", tb)
        .orderBy(
            F.desc("combined_score"), F.asc(doc_col), F.asc(page_col), F.asc("_tb")
        )
        .limit(pool)
    )
    toks = F.filter(F.split("chunk_text", " "), lambda t: t != "")
    bigrams = F.array_distinct(
        F.filter(
            F.zip_with(
                toks,
                F.slice(toks, 2, 2_000_000),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            lambda s: F.size(F.split(s, " ")) == 2,
        )
    )
    qb = F.array(*[F.lit(b) for b in q_bigrams])
    rescored = pooled.withColumn(
        "rerank_score",
        F.round(
            F.size(F.array_intersect(bigrams, qb))
            / F.lit(float(max(1, len(q_bigrams)))),
            6,
        ),
    )
    w = Window.partitionBy(doc_col, page_col).orderBy(
        F.desc("rerank_score"), F.desc("combined_score"), F.asc("_tb")
    )
    deduped = rescored.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    return (
        deduped.select(
            doc_col, page_col, "chunk_id", "source_type",
            "combined_score", "rerank_score",
        )
        .orderBy(
            F.desc("rerank_score"), F.desc("combined_score"),
            F.asc(doc_col), F.asc(page_col), F.asc("chunk_id"),
        )
        .limit(top_k)
    )
