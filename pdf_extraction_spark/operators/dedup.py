"""Deduplication operators for large-scale training-data pipelines.

All fully distributed, Catalyst-expression based (no Python UDFs):

* exact         — groupBy on a 128-bit content hash (never the payload)
* minhash + LSH — row-local shingle array -> md5 minhash -> band ->
                  size-capped bucket join
* n-gram Jaccard — exact set similarity for candidate verification
* simhash       — 16-bit md5-derived simhash, row-local votes

md5 is the shared hash family because both Spark and the DuckDB
oracle compute identical digests; MinHash takes BIGINT mins over
disjoint 32-bit windows of ONE digest per shingle (each window is
independently uniform), so the whole MinHash/LSH pipeline replays in
ANSI SQL for the correctness gate AND aggregates as codegen
HashAggregate (string mins would force SortAggregate).

Scale notes (the 100-TB plan, round-2 rework):

* Nothing here shuffles document text.  exact_dedup groups on
  md5(text) (32 bytes), not the text itself; minhash/simhash collapse
  to fixed-width signatures row-locally BEFORE any exchange, so the
  only shuffled bytes are (id, signature).
* Catalyst does not CSE subexpressions through lambda bodies: a naive
  row-local rewrite re-evaluates the token-array expression at every
  lambda call site — O(n^2) per doc (measured 26s vs 0.8s on 2k-token
  docs; round-1 revert ca92600).  ``_let`` fixes this by binding the
  array as the single element of a literal array and transforming it:
  the input of a higher-order function is evaluated exactly once.
* LSH buckets are size-capped (``bucket_cap``) before the pair
  self-join: one boilerplate cluster of 10^6 near-identical docs would
  otherwise go quadratic.  The cap is deterministic and replayed by the
  SQL oracle; capped-out buckets are still near-dup clusters — callers
  that need them get the bucket ids from ``lsh_oversize_buckets``
  instead of pairs (no silent truncation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .partitioning import ensure_parallelism

N_MINHASH = 4
SHINGLE_WORDS = 3
LSH_BANDS = 2  # 2 bands x 2 rows
LSH_BUCKET_CAP = 256  # max docs per (band, bucket) admitted to the pair join


def _let(bound: Column, fn) -> Column:
    """Evaluate ``bound`` once per row and pass it to ``fn``.

    Catalyst inlines (and re-evaluates) a subexpression at every lambda
    call site; wrapping it as the single element of a literal array and
    transforming evaluates it exactly once — a let-binding.
    """
    return F.element_at(F.transform(F.array(bound), fn), 1)


def tokens_col(text_col: str = "text") -> Column:
    return F.filter(F.split(F.col(text_col), " "), lambda t: t != "")


def shingle_array(text_col: str = "text", n: int = SHINGLE_WORDS) -> Column:
    """Row-local array of n-word shingles (empty if < n tokens).

    ONE codegen'd regex pass: each match position captures the n-token
    lookahead and consumes one token, so overlapping shingles come out
    of RegExpExtractAll directly.  Equivalent to sliding a window over
    split(text, ' ') minus empties ([^ ]+ is exactly that tokenizer),
    with zero shuffle AND zero interpreted expressions — the previous
    higher-order transform/element_at form was CodegenFallback
    (interpreted per shingle) and measured ~2x slower end-to-end than
    round 1's window form (BENCH/DEDUP_FORMS.md); this form beats both.
    """
    pattern = "(?=(" + " ".join(["[^ ]+"] * n) + "))[^ ]+ ?"
    # collapse space runs first: the lookahead expects single-space
    # token joins, and the emitted shingle must equal concat_ws(" ")
    # over the split-minus-empties token stream
    normalized = F.regexp_replace(F.col(text_col), " +", " ")
    return F.regexp_extract_all(normalized, F.lit(pattern), F.lit(1))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical row per identical text + duplicate count.

    Groups on md5(text) — a 32-byte shuffle key — never on the payload
    (a Window.partitionBy(text) would ship the corpus through the
    exchange twice at 100 TB).  Collision probability at 128 bits is
    negligible below ~2^64 documents.
    """
    # no parallelism guard here: the per-row work (one md5) is too
    # cheap for a rebalance to pay for itself (measured 0.73x)
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("_h"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups"))
        .select(id_col, "n_dups")
    )


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) rows — explode of the row-local shingle array.
    Input parallelism guarded: the shingle+digest stage is fused with
    the scan, so a one-row-group input would otherwise run it on one
    core (operators/partitioning.py)."""
    return ensure_parallelism(df).select(
        id_col, F.explode(shingle_array(text_col)).alias("shingle")
    )


def minhash_signature(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
) -> DataFrame:
    """(id, h0..h{n-1}) — h_j = min over shingles of the j-th 32-bit
    window of md5(shingle), as a BIGINT.

    ONE md5 per shingle feeds every hash function (md5's 128 bits split
    into n disjoint 8-hex windows — the classic many-hashes-from-one-
    digest construction; each window is independently uniform, which is
    all MinHash needs).  Round 2's form hashed each shingle once PER
    SEED (4x the digest work) and took min over hex STRINGS, which
    forces SortAggregate (string agg buffers aren't hash-aggregable) —
    a per-partition sort of every shingle row.  Long mins keep the
    whole stage in codegen HashAggregate with map-side partial agg;
    the exchange carries per-doc partials only (id + n x 8B).
    Benchmarked old/new/this in BENCH/DEDUP_FORMS.md.

    Docs with < SHINGLE_WORDS tokens are excluded (no shingles),
    matching the SQL oracle.
    """
    assert n_hashes * 8 <= 32, "md5 yields 32 hex chars = 4 x 8-char windows"
    sh = shingles(df, text_col, id_col)
    digest = F.md5(F.col("shingle"))
    aggs = [
        F.min(
            F.conv(F.substring(digest, 8 * j + 1, 8), 16, 10).cast("long")
        ).alias(f"h{j}")
        for j in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _band_buckets(sig: DataFrame, id_col: str, n_hashes: int, bands: int) -> DataFrame:
    """signature rows -> (id, h*, band, bucket) — one row per band."""
    rows_per_band = n_hashes // bands
    band_cols = []
    for bnd in range(bands):
        hs = [
            F.col(f"h{bnd * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        band_cols.append(
            F.struct(F.lit(bnd).alias("band"), F.md5(F.concat_ws("|", *hs)).alias("bucket"))
        )
    return sig.select(
        id_col, *[f"h{j}" for j in range(n_hashes)],
        F.explode(F.array(*band_cols)).alias("bb"),
    ).select(id_col, *[f"h{j}" for j in range(n_hashes)], "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = N_MINHASH, bands: int = LSH_BANDS,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: docs sharing any band bucket.
    -> (doc_a, doc_b, sim_est) with doc_a < doc_b; sim_est = fraction
    of matching minhashes.

    Buckets larger than ``bucket_cap`` are excluded from the pair join
    (a single degenerate bucket — e.g. 10^6 boilerplate copies — would
    emit 10^12 pairs).  The cap is deterministic, replayed by the SQL
    oracle, and oversize buckets remain reportable via
    ``lsh_oversize_buckets`` — they ARE dup clusters already.
    """
    sig = minhash_signature(df, text_col, id_col, n_hashes)
    buckets = _band_buckets(sig, id_col, n_hashes, bands)
    # One shuffle total: collect the (small, cap-bounded) member set per
    # bucket and emit the i<j pairs row-locally.  A bucket self-join
    # would shuffle AND evaluate the signature subplan once per side.
    members = (
        buckets.groupBy("band", "bucket")
        .agg(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"),
                    *[F.col(f"h{j}") for j in range(n_hashes)],
                )
            ).alias("ms")
        )
        .filter((F.size("ms") >= 2) & (F.size("ms") <= bucket_cap))
    )

    def mk_pair(a, b):
        matches = (
            F.lit(0.0)
            + sum(
                F.when(a[f"h{j}"] == b[f"h{j}"], 1.0).otherwise(0.0)
                for j in range(n_hashes)
            )
        ) / float(n_hashes)
        return F.struct(
            F.least(a["id"], b["id"]).alias("doc_a"),
            F.greatest(a["id"], b["id"]).alias("doc_b"),
            F.round(matches, 6).alias("sim_est"),  # symmetric in (a, b)
        )

    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("ms") - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size("ms")),
                lambda j: mk_pair(F.element_at("ms", i), F.element_at("ms", j)),
            ),
        )
    )
    return (
        members.select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.sim_est")
        .distinct()
    )


def lsh_oversize_buckets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = N_MINHASH, bands: int = LSH_BANDS,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """(band, bucket, n_docs) for buckets excluded by the pair-join cap
    — the audit surface so the cap is never a silent truncation."""
    sig = minhash_signature(df, text_col, id_col, n_hashes)
    return (
        _band_buckets(sig, id_col, n_hashes, bands)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > bucket_cap)
    )


def verify_candidates(
    df: DataFrame, pairs: DataFrame, text_col: str = "text",
    id_col: str = "doc_id", threshold: float = 0.0,
) -> DataFrame:
    """Exact word-set Jaccard for a candidate-pair list — the VERIFY
    step of the LSH candidate -> verify dedup loop (pairs from
    lsh_candidate_pairs; ngram_jaccard_adjacent is the fixed-stride
    shape of the same computation).

    -> (doc_a, doc_b, sim_est, jaccard) for pairs with jaccard >=
    ``threshold``.  Two hash joins keyed on ids: only the candidate
    pairs' token sets move, never the corpus — at 100 TB the pair list
    is orders of magnitude smaller than the corpus, so this stays a
    pair-bounded join, not a second corpus pass."""
    toks = df.select(
        F.col(id_col),
        F.array_distinct(tokens_col(text_col)).alias("_ws"),
    )
    a = toks.select(F.col(id_col).alias("doc_a"), F.col("_ws").alias("_wa"))
    b = toks.select(F.col(id_col).alias("doc_b"), F.col("_ws").alias("_wb"))
    jac = F.round(
        F.size(F.array_intersect("_wa", "_wb"))
        / F.size(F.array_union("_wa", "_wb")),
        6,
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", "sim_est", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_adjacent(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact word-set Jaccard between consecutive ids (verification
    shape for near-dup candidates)."""
    toks = df.select(
        id_col,
        F.array_distinct(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
        ).alias("ws"),
    )
    a = toks.select(F.col(id_col).alias("doc_a"), F.col("ws").alias("wa"))
    b = toks.select((F.col(id_col) - 1).alias("doc_a"), F.col(id_col).alias("doc_b"),
                    F.col("ws").alias("wb"))
    return (
        a.join(b, "doc_a")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("wa", "wb"))
                / F.size(F.array_union("wa", "wb")),
                6,
            ).alias("jaccard"),
        )
    )


def simhash16(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash from the first 4 hex chars of each token's md5.

    bit value of hex char c at position p, bit b:
    ((strpos('0123456789abcdef', c) - 1) >> b) & 1; tokens vote +1/-1
    per bit; simhash = sum over set bits of 2^(4*p+b).

    Hybrid form: ONE token explode (the round-1 form exploded
    tokens x 16 bit-rows through two exchanges), all 16 bit votes as
    codegen'd aggregate columns over that explode, one groupBy whose
    map-side partial aggregation shrinks the exchange to one
    17-column row per doc per partition.  Docs with no tokens are
    excluded (parity with the SQL oracle).
    """
    tok = ensure_parallelism(df).select(
        F.col(id_col),
        F.explode(tokens_col(text_col)).alias("w"),
    ).withColumn(
        # ONE hex->int conversion of the 4-char prefix; each bit is then
        # a shift+mask (the per-bit form ran 16 conv() string parses per
        # token — ~10% of query wall at sf1.0, identical integers).
        # Hex char at position p (0-based, leftmost) holds bits
        # 4*(3-p)+3 .. 4*(3-p) of v, so bit (p=bit//4, b=bit%4) of the
        # old form is bit 4*(3-bit//4)+bit%4 of v.
        "v", F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("int")
    )

    votes = []
    for bit in range(16):
        shift = 4 * (3 - bit // 4) + bit % 4
        bitval = F.shiftright("v", shift).bitwiseAND(F.lit(1))
        votes.append(
            F.sum(F.when(bitval == 1, 1).otherwise(-1)).alias(f"v{bit}")
        )
    agg = tok.groupBy(id_col).agg(*votes)
    sim = sum(
        F.when(F.col(f"v{bit}") >= 0, F.lit(2 ** bit).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for bit in range(16)
    )
    return agg.select(id_col, sim.alias("simhash"))
