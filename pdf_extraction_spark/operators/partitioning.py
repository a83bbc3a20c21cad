"""Input-parallelism guard for compute-heavy map stages.

A shuffle-free operator (row-local shingling/hashing, vector folds)
inherits the SCAN's partitioning.  At cluster scale that is thousands
of file splits and this guard is a no-op; on a small input the scan
can be a single parquet row group (maxPartitionBytes cannot split
below row groups), which runs the whole fused stage on ONE core while
a plan with a mid-stage exchange happily uses them all — measured
4-7x wall difference at sf0.1, and the entire reason round 2's
shuffle-lean dedup forms benchmarked SLOWER than the window forms
they replaced (BENCH/DEDUP_FORMS.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, key=None) -> DataFrame:
    """Repartition the input iff the scan has fewer partitions than the
    cluster has cores — round-robin by default, or hash on ``key`` when
    given (a high-cardinality column): the keyed form skips the local
    sort round-robin repartitioning pays for retry determinism
    (sortBeforeRepartition), which matters when the rebalanced input is
    millions of rows (pricing_summary's 6M-row lineitem scan: keyed
    0.84s vs unguarded 1.19s median, round 6).

    Small inputs pay a trivially cheap rebalance (the input is by
    definition at most a few row groups); large inputs always arrive
    with at least core-count splits, so at scale this never introduces
    a shuffle — the degenerate case is exactly the one it fixes.
    """
    if df.isStreaming:  # partition introspection needs a batch plan
        return df
    # The introspection below (df.rdd) forces a full logical->RDD plan
    # conversion on the driver.  Composed helpers re-enter this guard
    # several times on the SAME DataFrame object (e.g.
    # lsh_candidate_pairs -> minhash_signature -> shingles), so tag the
    # checked/repartitioned object and skip repeat work — nested calls
    # then cost one attribute read, and a plan never stacks a second
    # round-robin exchange on an already-guarded input.  A keyed call
    # skips the memo: it must hash on ITS key, whatever an earlier
    # unkeyed call stored.
    cached = None if key is not None else getattr(df, "_parallelism_result", None)
    if cached is not None:
        return cached
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        out = df
    elif key is not None:
        out = df.repartition(key)
    else:
        out = df.repartition(target)
    # Memoize on the INPUT object (composed helpers like
    # lsh_candidate_pairs -> minhash_signature -> shingles all re-enter
    # with the same df), and mark the OUTPUT self-resolved so guarding
    # an already-guarded frame is a no-op — one introspection per
    # DataFrame per plan instead of one per helper entry.
    out._parallelism_result = out
    df._parallelism_result = out
    return out
