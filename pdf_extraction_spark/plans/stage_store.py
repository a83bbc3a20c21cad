"""Committed stage tables — the sandbox stand-in for Iceberg.

The production design writes every stage boundary to an Iceberg v2
table (snapshot-committed, SURVEY.md §1.3/§4 item 3); this container
has no Iceberg runtime jars, so stages commit to parquet directories
with an explicit ``_COMMITTED`` marker written only after a successful
write — the same snapshot-or-nothing contract at stage granularity.
Resume = skip stages whose marker exists (the reference's
skip-if-exists, pdf_text_extractor.py:47-49 et al., at cluster scale).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

MARKER = "_COMMITTED"
PARQUET_CODEC = "zstd"
ZSTD_LEVEL = "1"

# Stage snapshots are text-heavy (page text, chunk text, JSON layout
# artifacts).  Codec settled by three interleaved committed-pipeline
# A/Bs at 8000 docs (round 5; git show c5de244:tools/bench_codec_forms.py,
# BENCH/CODEC_FORMS.md): pipeline-wall differences between snappy and
# either zstd level are WITHIN host noise (per-form medians 10.2-12.2s
# across sessions, overlapping), while sizes are deterministic — zstd
# level 1 lands 31.6 MB vs snappy's 41.5 (24% smaller; level 3: 29.4).
# At the 100 TB design point that is ~25% less stage storage and scan
# IO at no measurable wall cost, so zstd it is; level 1 over the
# default 3 because its walls showed the tightest spread and the extra
# 7% size from level 3 is not worth its tail.  The codec is an explicit
# per-write option (travels with the store — a vanilla spark-submit
# session writes the same files); the level is a hadoop conf
# (parquet-java has no per-write level option), set idempotently before
# each write by _tune_codec below.


def _tune_codec(df: DataFrame) -> None:
    try:
        df.sparkSession.sparkContext._jsc.hadoopConfiguration().set(
            "parquet.compression.codec.zstd.level", ZSTD_LEVEL
        )
    except Exception:
        pass  # private-API bridge unavailable: level 3 files, same data


def _dir(root: str, stage: str) -> str:
    return os.path.join(root, stage)


def _read_marker(d: str) -> dict | None:
    p = os.path.join(d, MARKER)
    if not os.path.exists(p):
        return None
    with open(p, encoding="utf-8") as fh:
        return json.load(fh)


def _write_marker(d: str, info: dict) -> None:
    """Write ``d``'s marker atomically: the JSON goes to a temp file that
    then replaces the marker, so a crash mid-write tears only the temp
    file and readers keep seeing the previous marker.  The temp name
    starts with ``_``, so Spark's file listing and _part_files skip it."""
    p = os.path.join(d, MARKER)
    with open(p + ".tmp", "w", encoding="utf-8") as fh:
        json.dump(info, fh)
    os.replace(p + ".tmp", p)


def _is_marked(d: str) -> bool:
    return os.path.exists(os.path.join(d, MARKER))


def _marked_with(d: str, run_id: str) -> bool:
    """True iff ``d`` carries a marker whose commit OR any recorded
    upsert/append was made by ``run_id``."""
    try:
        info = _read_marker(d) or {}
    except (OSError, ValueError):
        return False
    return info.get("run_id") == run_id or any(
        e.get("run_id") == run_id
        for kind in ("upserts", "appends")
        for e in info.get(kind, [])
    )


def _swap_into_place(path: str, tmp: str, run_id: str) -> None:
    """Rename the marked ``tmp`` snapshot into ``path`` (keeping any
    previous snapshot aside until the swap lands, then dropping it).

    Tolerates a concurrent READER having healed the swap for us: a
    reader's is_committed/read_stage may run recover_stage during our
    marker-written-but-not-yet-swapped window, promoting ``tmp`` into
    ``path`` itself (and gc'ing siblings).  In that race our own renames
    hit FileNotFoundError — treat it as success iff a snapshot marked
    with THIS run_id ends up at ``path``, so out-of-process readers
    concurrent with a single writer never fail the writer's commit."""
    old = None
    if os.path.exists(path):
        old = f"{path}.old-{run_id}"
        try:
            os.rename(path, old)
        except (FileNotFoundError, NotADirectoryError):
            old = None  # a reader's recovery gc'd/moved it under us
    try:
        os.rename(tmp, path)
    except FileNotFoundError:
        # A reader promoted our marked tmp.  If that happened BEFORE our
        # path->old rename, our own promoted snapshot now sits at `old`
        # — put it back.  Either way the swap only counts as done when
        # `path` carries this run's marker.
        if (
            old is not None
            and not os.path.exists(path)
            and _marked_with(old, run_id)
        ):
            os.rename(old, path)
            old = None
        if not _marked_with(path, run_id):
            # genuine failure: un-displace whatever snapshot we renamed
            # aside so the stage is left exactly as we found it
            if old is not None and not os.path.exists(path):
                os.rename(old, path)
                old = None
            raise
    if old is not None:
        shutil.rmtree(old, ignore_errors=True)


def is_committed(root: str, stage: str) -> bool:
    """True iff the stage directory carries a committed marker.

    If the marker is absent, first run recover_stage(), so a crash in
    _publish's swap window (stage PATH renamed aside, marked tmp not yet
    in place) degrades to nothing instead of a full recompute plus
    leaked directories.  Assumes no concurrent writer on the same stage
    (single-committer, as the rest of this store does)."""
    if not _is_marked(_dir(root, stage)):
        recover_stage(root, stage)
    return _is_marked(_dir(root, stage))


def _siblings(root: str, stage: str, kind: str) -> list[str]:
    """Marked-or-not `<stage>.{tmp,old}-<run_id>` sibling dirs, newest
    (by mtime) first."""
    prefix = f"{stage}.{kind}-"
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return []
    dirs = [
        os.path.join(root, n)
        for n in names
        if n.startswith(prefix) and os.path.isdir(os.path.join(root, n))
    ]
    return sorted(dirs, key=os.path.getmtime, reverse=True)


def recover_stage(root: str, stage: str) -> str | None:
    """Repair a stage whose directory lost its marker to a mid-swap
    crash; returns the action taken (None | 'promoted_tmp' |
    'restored_old').

    Rules (see _publish's swap order: write+mark tmp; rename
    path->old; rename tmp->path; rmtree old):
      * path marked               -> nothing to do here (orphan tmp/old
        siblings are cleaned by gc_stage / the admin CLI, not on the
        hot read path);
      * path missing/unmarked, a MARKED tmp exists -> promote the
        newest marked tmp into place (the snapshot was fully written
        and marked, so the commit takes effect), drop the rest;
      * else a MARKED old exists  -> restore the newest (roll back);
      * unmarked tmps are half-written garbage either way -> removed.
    """
    path = _dir(root, stage)
    if _is_marked(path):
        return None
    tmps = [d for d in _siblings(root, stage, "tmp") if _is_marked(d)]
    olds = [d for d in _siblings(root, stage, "old") if _is_marked(d)]
    if tmps:
        source, action = tmps[0], "promoted_tmp"
    elif olds:
        source, action = olds[0], "restored_old"
    else:
        return None
    if os.path.exists(path):  # unmarked (half-written) stage dir
        shutil.rmtree(path)
    os.rename(source, path)
    gc_stage(root, stage)
    return action


def gc_stage(
    root: str, stage: str, kinds: tuple[str, ...] = ("tmp", "old")
) -> list[str]:
    """Remove leftover `<stage>.tmp-*` / `<stage>.old-*` dirs once the
    stage path itself is committed; returns the paths removed.  Full
    (tmp+old) GC is safe only with no concurrent writer on this stage;
    pass ``kinds=("old",)`` when an out-of-process writer may be live —
    an in-progress (not-yet-marked) tmp is indistinguishable from a
    crashed one, while `.old-*` dirs are only ever swap leftovers."""
    if not _is_marked(_dir(root, stage)):
        return []
    removed = []
    for kind in kinds:
        for d in _siblings(root, stage, kind):
            shutil.rmtree(d)
            removed.append(d)
    return removed


def gc_all(root: str, kinds: tuple[str, ...] = ("tmp", "old")) -> list[str]:
    """gc_stage across every committed stage under ``root`` — run at
    pipeline start so `.old-*` leftovers from runs that died between
    swap and rmtree cannot accumulate across incremental deployments.
    Cheap when clean: one listdir per stage.  The pipeline-startup call
    passes ``kinds=("old",)`` so a resuming reader can never delete a
    concurrent writer's in-progress tmp mid-write (round-5 advice);
    the explicit admin --gc path keeps the full sweep."""
    removed = []
    for s in stages(root):
        removed.extend(gc_stage(root, s, kinds))
    return removed


def stages(root: str) -> list[str]:
    """Stage names under ``root``, sorted: every stage directory, plus
    the names known only from `.tmp-*`/`.old-*` swap leftovers (a stage
    whose path vanished mid-swap, which recover_stage can restore)."""
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return []
    return sorted({
        n.split(".tmp-", 1)[0].split(".old-", 1)[0]
        for n in names
        if os.path.isdir(os.path.join(root, n))
    })


def _publish(
    df: DataFrame, root: str, stage: str, run_id: str, info: dict,
    kind: str | None = None,
) -> DataFrame:
    """The one snapshot write behind every stage write: write ``df``
    into ``<stage>.tmp-<run_id>``, mark it with ``info`` — plus a
    ``kind`` ('upserts' | 'appends') history entry carrying the
    snapshot's file count — swap it into place, and return the re-read
    snapshot (so downstream stages consume the materialized snapshot,
    not the lineage — the checkpoint/resume boundary).

    Crash discipline: the snapshot is fully written AND marked in the
    temp dir first, any previous snapshot is renamed aside (not
    deleted), the temp dir renamed into place, and the old snapshot
    deleted last — a marked snapshot (tmp, old, or path) survives on
    DISK at every instant, and the brief window where the stage PATH
    itself does not exist is healed by recover_stage() on the next
    is_committed/read_stage (promote marked tmp, else restore old).
    The overwrite also clears a crashed same-run_id tmp, so a retry
    needs no cleanup."""
    path = _dir(root, stage)
    tmp = f"{path}.tmp-{run_id}"
    _tune_codec(df)
    df.write.mode("overwrite").option("compression", PARQUET_CODEC).parquet(tmp)
    if kind:
        info.setdefault(kind, []).append({
            "run_id": run_id, "committed_at": time.time(),
            "files_after": len(_part_files(tmp)),
        })
    _write_marker(tmp, info)
    _swap_into_place(path, tmp, run_id)
    spark = df.sparkSession
    # drop stale file listings cached for the swapped path
    spark.catalog.refreshByPath(path)
    return spark.read.parquet(path)


def commit_stage(df: DataFrame, root: str, stage: str, run_id: str) -> DataFrame:
    """Write + mark committed through _publish; returns the re-read
    snapshot."""
    info: dict = {"run_id": run_id, "committed_at": time.time()}
    return _publish(df, root, stage, run_id, info)


def merge_rows(
    committed: DataFrame,
    df: DataFrame,
    keys: list[str] | None = None,
    delete_scope: DataFrame | None = None,
) -> DataFrame:
    """The store's one merge rule: drop the ``committed`` rows whose
    ``keys`` appear in ``delete_scope`` (default: ``df``'s own keys),
    then add ``df`` by column name — a column one side lacks reads null
    on the other side's rows, so a schema-evolving write widens the
    stage.  No ``keys`` is a plain append."""
    if keys:
        scope = delete_scope if delete_scope is not None else df
        committed = committed.join(scope.select(*keys).distinct(), keys, "left_anti")
    return committed.unionByName(df, allowMissingColumns=True)


def _publish_merge(
    df: DataFrame, root: str, stage: str, run_id: str, kind: str,
    keys: list[str] | None = None, delete_scope: DataFrame | None = None,
) -> DataFrame:
    """Publish ``merge_rows(committed, df, ...)`` as the stage's next
    snapshot (a stage not yet committed is committed from ``df``).  The
    merge reads the live snapshot while _publish writes a sibling."""
    if not is_committed(root, stage):
        return commit_stage(df, root, stage, run_id)
    committed = df.sparkSession.read.parquet(_dir(root, stage))
    info = marker_info(root, stage) or {}
    return _publish(
        merge_rows(committed, df, keys, delete_scope), root, stage, run_id, info, kind
    )


def append_stage(df: DataFrame, root: str, stage: str, run_id: str) -> DataFrame:
    """Append an increment (Iceberg append commit in production):
    committed ∪ ``df`` is published as a new snapshot, so a crash leaves
    the stage exactly as it was and the rewrite packs the small files
    earlier appends left; the marker records the append history."""
    return _publish_merge(df, root, stage, run_id, "appends")


def upsert_stage(
    df: DataFrame,
    root: str,
    stage: str,
    run_id: str,
    keys: list[str],
    delete_scope: DataFrame | None = None,
) -> DataFrame:
    """MERGE INTO emulation (reference load_to_db.py:338-364
    ``ON DUPLICATE KEY UPDATE``; Iceberg MERGE in production): committed
    rows whose key appears in ``df`` are replaced, everything else kept.

    ``delete_scope`` (optional) widens the set of committed rows the
    merge REPLACES beyond df's own keys: committed rows whose key
    appears in ``delete_scope`` are dropped even if ``df`` carries no
    replacement (MERGE ... WHEN NOT MATCHED BY SOURCE THEN DELETE,
    scoped).  The host-scoped incremental uses this so a url whose
    recompute now yields zero rows (e.g. its text stripped to empty)
    does not leave stale rows behind."""
    return _publish_merge(df, root, stage, run_id, "upserts", keys, delete_scope)


def _part_files(path: str) -> list[str]:
    """Data part files of a stage snapshot (parquet parts only — the
    marker/_SUCCESS/.crc bookkeeping doesn't count)."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return [
        os.path.join(path, n)
        for n in names
        if n.startswith("part-") and not n.endswith(".crc")
    ]


def read_stage(spark: SparkSession, root: str, stage: str) -> DataFrame:
    is_committed(root, stage)  # triggers mid-swap crash recovery
    return spark.read.parquet(_dir(root, stage))


def marker_info(root: str, stage: str) -> dict | None:
    return _read_marker(_dir(root, stage))
