"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exact baseline: JVM-side
  zip_with/aggregate dot products, TakeOrderedAndProject top-k.
* LSH-bucketed ANN — the scale path: deterministic random-hyperplane
  signatures (±1 components derived from md5, so the DuckDB oracle can
  replay them), bucket equi-join instead of a full cross product.

At cluster scale the brute-force path is O(N) per probe but fully
partition-parallel with no shuffle (probe broadcast); the LSH path
turns a 10^12 x probe scan into a bucket-pruned lookup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .partitioning import ensure_parallelism

N_PLANES = 8


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _top_cosine(
    j: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Top-``k`` rows of ``j`` by cosine between ``vec_col`` and the
    ``_probe`` column ``j`` carries, rounded to 6 places; deterministic
    tiebreak on id."""
    cos = _dot(F.col(vec_col), F.col("_probe")) / (
        _norm(F.col(vec_col)) * _norm(F.col("_probe"))
    )
    return (
        j.select(id_col, F.round(cos, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk(
    embeddings: DataFrame, probe_id: int, k: int = 10, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k against the probe vector (excluding the
    probe itself); deterministic tiebreak on id."""
    probe = embeddings.filter(F.col(id_col) == probe_id).select(
        F.col(vec_col).alias("_probe")
    )
    # per-row fold compute is heavy: guard against one-row-group scans
    # (operators/partitioning.py; no-op at scale)
    j = ensure_parallelism(
        embeddings.filter(F.col(id_col) != probe_id)
    ).crossJoin(F.broadcast(probe))
    return _top_cosine(j, k, id_col, vec_col)


def hyperplane_sign_value(plane: int, dim: int) -> float:
    """Deterministic ±1 component: +1 iff md5('p,i') starts 0-7.
    Computed driver-side (md5 is deterministic) so the plan carries one
    array literal per plane instead of 64 hash expressions."""
    import hashlib

    first = hashlib.md5(f"{plane},{dim}".encode()).hexdigest()[0]
    return 1.0 if first in "01234567" else -1.0


def _projection(vec_col: str, plane: int, dim: int) -> "F.Column":
    """Projection of ``vec_col`` onto hyperplane ``plane`` =
    zip_with/aggregate against a literal sign vector: sequential fold,
    identical association order to the SQL oracle."""
    signs = F.array(*[F.lit(hyperplane_sign_value(plane, i)) for i in range(dim)])
    return F.aggregate(
        F.zip_with(F.col(vec_col), signs, lambda x, s: x.cast("double") * s),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def bucket_col(vec_col: str = "embedding", n_planes: int = N_PLANES, dim: int = 64):
    """LSH bucket expression — bit string of hyperplane signs."""
    return F.concat(*[
        F.when(_projection(vec_col, p, dim) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in range(n_planes)
    ])


def _projection_cols(vec_col: str, n_planes: int, dim: int) -> "F.Column":
    """array<double> of the raw hyperplane projections (bucket_col is
    their sign string) — used by multi-probe to rank which single bit
    sits closest to its hyperplane."""
    return F.array(*[_projection(vec_col, p, dim) for p in range(n_planes)])


def probe_buckets_col(
    vec_col: str, n_planes: int, dim: int, n_probe: int
) -> "F.Column":
    """array<string> of the probe's ``n_probe`` most likely buckets:
    its own bucket first, then the buckets reached by flipping ONE bit
    each, in increasing |projection| order (the classic multi-probe
    heuristic: the nearest-margin hyperplane is the most likely to have
    put a true neighbour on the other side).  Ties break on plane
    index, so the set is deterministic."""
    base = bucket_col(vec_col, n_planes, dim)
    if n_probe <= 1:
        return F.array(base)
    projs = _projection_cols(vec_col, n_planes, dim)
    flip_order = F.transform(
        F.array_sort(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_planes - 1)),
                lambda i: F.struct(
                    F.abs(F.element_at(projs, i + 1)).alias("m"),
                    i.alias("p"),
                ),
            )
        ),
        lambda s: s["p"],
    )

    def flipped(p):
        # flip character p (0-based) of the base bit string
        ch = F.substring(base, p + 1, 1)
        return F.concat(
            F.substring(base, 1, p),
            F.when(ch == "1", F.lit("0")).otherwise(F.lit("1")),
            F.substring(base, p + 2, n_planes),
        )
    flips = F.transform(F.slice(flip_order, 1, n_probe - 1), flipped)
    return F.concat(F.array(base), flips)


def lsh_buckets(
    embeddings: DataFrame, n_planes: int = N_PLANES, id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int = 64,
) -> DataFrame:
    """(id, bucket) — pure column expression over the embeddings scan."""
    return embeddings.select(
        id_col, bucket_col(vec_col, n_planes, dim).alias("bucket")
    )


def _pack_centroids(cent_tbl: DataFrame) -> DataFrame:
    """(cid, cv) rows -> ONE row carrying a cid-sorted centroid array.
    array_sort on the struct orders by cid (first field), so the packed
    list is deterministic regardless of collect_list's arrival order —
    ties in the row-local argmax then break identically on every run."""
    return cent_tbl.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cid"), F.col("cv")))
        ).alias("_cents")
    )


def ivf_train(
    embeddings: DataFrame, n_lists: int = 8, iters: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int | None = None,
) -> DataFrame:
    """Deterministic IVF coarse quantizer training: seed with the
    n_lists lowest-id vectors, then ``iters`` Lloyd refinement steps —
    assign every vector to its nearest centroid (broadcast + row-local
    argmax) and recompute each centroid as the per-dimension mean of
    its list (one partial-aggregated groupBy whose exchange carries
    ``dim`` doubles per partial, never the vectors).  Means are rounded
    to 9 decimals so partial-sum merge order cannot perturb the result;
    a list that empties keeps its previous centroid.  Returns the
    packed single-row centroid table (see _pack_centroids) — pass the
    SAME row to ivf_assign and the probe-list computation so both sides
    of the search quantize identically.

    ``dim`` defaults to None = derived from the seed vectors (one
    ``first()`` on the n_lists-row checkpointed seed table — no scan of
    the corpus), so any embedding width works; vectors whose length
    disagrees with the derived/declared dim fail the job loudly via
    raise_error instead of silently averaging into null centroids."""
    cent_tbl = embeddings.orderBy(id_col).limit(n_lists).select(
        F.col(id_col).cast("long").alias("cid"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("cv"),
    ).localCheckpoint()
    # n_lists rows on the driver — validates EVERY seed against the
    # derived/declared dim, so a wrong-width seed (or any mismatch at
    # iters=0, where the guarded corpus scan below never evaluates)
    # fails loudly instead of yielding mixed-width centroids.
    seed_sizes = [
        r["n"] for r in cent_tbl.select(F.size("cv").alias("n")).collect()
    ]
    if not seed_sizes:
        raise ValueError("ivf_train: empty embeddings input")
    if dim is None:
        dim = seed_sizes[0]
    bad = sorted({n for n in seed_sizes if n != dim})
    if bad:
        raise ValueError(
            f"ivf_train: seed embedding length(s) {bad} != dim {dim}"
        )
    casted = F.transform(vec_col, lambda x: x.cast("double"))
    vecs = ensure_parallelism(embeddings).select(
        F.when(F.size(vec_col) == F.lit(dim), casted)
        .otherwise(F.raise_error(
            F.concat(F.lit(f"ivf_train: embedding length != {dim} for "
                           f"{vec_col} of length "),
                     F.size(vec_col).cast("string"))))
        .alias("_v")
    )
    for _ in range(max(0, iters)):
        cents = _pack_centroids(cent_tbl)
        assigned = vecs.crossJoin(F.broadcast(cents)).select(
            "_v", _argmax_cid("_v").alias("cid")
        )
        new_tbl = assigned.groupBy("cid").agg(
            *[
                F.round(F.avg(F.col("_v")[i]), 9).alias(f"_c{i}")
                for i in range(dim)
            ]
        ).select(
            "cid", F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("_cv_new")
        )
        cent_tbl = (
            cent_tbl.join(new_tbl, "cid", "left")
            .select("cid", F.coalesce("_cv_new", "cv").alias("cv"))
            .localCheckpoint()
        )
    return _pack_centroids(cent_tbl)


def _cos_to(vec_col: str, other) -> "F.Column":
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return _dot(v, other) / (_norm(v) * _norm(other) + F.lit(1e-12))


def _argmax_cid(vec_col: str) -> "F.Column":
    """Row-local nearest-centroid id over the broadcast ``_cents`` array
    (strict > keeps the lowest cid on exact ties — deterministic given
    the cid-sorted packing)."""
    return F.aggregate(
        F.col("_cents"),
        F.struct(F.lit(-1).cast("long").alias("cid"), F.lit(-2.0).alias("sim")),
        lambda acc, c: F.when(
            _cos_to(vec_col, c["cv"]) > acc["sim"],
            F.struct(c["cid"].alias("cid"), _cos_to(vec_col, c["cv"]).alias("sim")),
        ).otherwise(acc),
    )["cid"]


def ivf_assign(
    embeddings: DataFrame, n_lists: int = 8, id_col: str = "vec_id",
    vec_col: str = "embedding", cents: DataFrame | None = None,
) -> DataFrame:
    """embeddings + ``list_id``: nearest trained centroid by cosine
    (IVF coarse quantizer).  One broadcast of the (tiny) centroid row;
    assignment is a row-local fold over the centroid array.  Pass the
    ``cents`` row from ivf_train to share one training pass across
    assignment and probing."""
    if cents is None:
        cents = ivf_train(embeddings, n_lists, id_col=id_col, vec_col=vec_col)
    return ensure_parallelism(embeddings).crossJoin(F.broadcast(cents)).withColumn(
        "list_id", _argmax_cid(vec_col)
    ).drop("_cents")


def ann_ivf_topk(
    embeddings: DataFrame, probe_id: int, k: int = 5, n_lists: int = 8,
    n_probe: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: score only the vectors whose inverted list is among the
    probe's n_probe nearest centroids — the scale path that prunes
    1 - n_probe/n_lists of the corpus per query (the LSH variant is
    ann_lsh_topk; both avoid the full scan cosine_topk performs).
    Trains ONCE and feeds the same centroid row to assignment and to
    the probe-list computation."""
    cents = ivf_train(embeddings, n_lists, id_col=id_col, vec_col=vec_col)
    assigned = ivf_assign(embeddings, n_lists, id_col, vec_col, cents=cents)
    # the probe's n_probe nearest lists, row-locally: sort centroid
    # structs by (-cosine, cid) and slice
    probe_lists = (
        embeddings.filter(F.col(id_col) == probe_id)
        .crossJoin(F.broadcast(cents))
        .select(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.transform(
                            "_cents",
                            lambda c: F.struct(
                                (-_cos_to(vec_col, c["cv"])).alias("neg"),
                                c["cid"].alias("cid"),
                            ),
                        )
                    ),
                    lambda s: s["cid"],
                ),
                1, n_probe,
            ).alias("_lists"),
            F.col(vec_col).alias("_probe"),
        )
    )
    cand = assigned.crossJoin(F.broadcast(probe_lists)).filter(
        F.array_contains(F.col("_lists"), F.col("list_id"))
        & (F.col(id_col) != probe_id)
    )
    return _top_cosine(cand, k, id_col, vec_col)


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.9, n_planes: int = N_PLANES,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int = 64,
    bucket_cap: int = 256,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the 5th dedup mode
    (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine).

    Same scale shape as MinHash LSH: hyperplane bucket as a column on
    the scan, collect the (cap-bounded) member set per bucket, emit the
    i<j cosine pairs row-locally, keep pairs >= threshold.  One shuffle;
    no all-pairs cross join; degenerate buckets excluded by the cap.
    -> (id_a, id_b, cosine) with id_a < id_b.
    """
    b = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
        bucket_col(vec_col, n_planes, dim).alias("bucket"),
    )
    members = (
        b.groupBy("bucket")
        .agg(F.collect_list(F.struct("_id", "_v")).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= bucket_cap))
    )

    def cos(a, c):
        dot = F.aggregate(
            F.zip_with(a["_v"], c["_v"], lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        na = F.sqrt(F.aggregate(
            F.transform(a["_v"], lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
        nb = F.sqrt(F.aggregate(
            F.transform(c["_v"], lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
        return dot / (na * nb)

    def mk_pair(a, c):
        return F.struct(
            F.least(a["_id"], c["_id"]).alias("id_a"),
            F.greatest(a["_id"], c["_id"]).alias("id_b"),
            F.round(cos(a, c), 6).alias("cosine"),  # symmetric
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
        .select("p.id_a", "p.id_b", "p.cosine")
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def ann_lsh_topk(
    embeddings: DataFrame, probe_id: int, k: int = 5, n_planes: int = N_PLANES,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int = 64,
    n_probe: int = 1,
) -> DataFrame:
    """ANN: restrict cosine scoring to the probe's LSH bucket(s).

    The bucket is computed with withColumn on the same embeddings scan
    (round 1 self-joined embeddings against lsh_buckets(embeddings) —
    a full shuffle of the vector column for a value derivable in
    place).

    ``n_probe`` > 1 enables multi-probe (the IVF twin of n_probe
    lists): the probe also scans the buckets reached by flipping its
    lowest-|projection| hyperplane bits — the candidate set grows to
    ~n_probe/2^n_planes of the corpus and recall@k climbs accordingly
    (bounds asserted at sf0.1 in tests/test_retrieval2.py).  The
    probe-bucket set is one broadcast row; the scan side is unchanged,
    so the scale shape stays a bucket-pruned lookup.

    ``n_probe`` <= 1 keeps the round-3 single-bucket shape exactly
    (probe bucket reused from the shared ``with_b`` projection, string
    equality on the candidate side): the r4 multi-probe refactor ran
    the n_probe=1 path through ``array_contains`` on a recomputed
    probe-bucket array and cost +46% at sf0.1 (pinned interleaved A/B,
    BENCH/ANN_LSH_FORMS.md) for zero recall benefit."""
    with_b = ensure_parallelism(embeddings).withColumn(
        "bucket", bucket_col(vec_col, n_planes, dim)
    )
    if n_probe <= 1:
        probe_bucket = with_b.filter(F.col(id_col) == probe_id).select(
            F.col("bucket").alias("_pb")
        )
        cand = with_b.crossJoin(F.broadcast(probe_bucket)).filter(
            (F.col("bucket") == F.col("_pb")) & (F.col(id_col) != probe_id)
        )
    else:
        probe_bucket = with_b.filter(F.col(id_col) == probe_id).select(
            probe_buckets_col(vec_col, n_planes, dim, n_probe).alias("_pbs")
        )
        cand = with_b.crossJoin(F.broadcast(probe_bucket)).filter(
            F.array_contains(F.col("_pbs"), F.col("bucket"))
            & (F.col(id_col) != probe_id)
        )
    probe = embeddings.filter(F.col(id_col) == probe_id).select(
        F.col(vec_col).alias("_probe")
    )
    return _top_cosine(cand.crossJoin(F.broadcast(probe)), k, id_col, vec_col)
