"""Stage-store admin CLI — the committed-stage twin of the reference's
Chroma collection manager (``fix_vector_db.py:20-33``: ``--list`` the
collections, ``--remove NAME`` gated behind ``--confirm``).  Here the
"collections" are the committed parquet stage tables of
``plans/stage_store.py`` (Iceberg tables in production), so the admin
surface also covers what a snapshot store needs and Chroma doesn't:
recovering a stage whose swap was interrupted mid-crash and
garbage-collecting orphaned ``.tmp-*`` / ``.old-*`` swap directories.

Usage::

    python -m pdf_extraction_spark.plans.stage_admin ROOT --list
    python -m pdf_extraction_spark.plans.stage_admin ROOT --remove chunks --confirm
    python -m pdf_extraction_spark.plans.stage_admin ROOT --gc
    python -m pdf_extraction_spark.plans.stage_admin ROOT --recover
    python -m pdf_extraction_spark.plans.stage_admin ROOT --compact pages

Pure os/json — no SparkSession needed, so it runs instantly against a
warehouse a dead job left behind.  The one exception is ``--compact``
(a data rewrite needs Spark): it builds a local session lazily, only
when asked.
"""

from __future__ import annotations

import argparse
import os
import shutil

from . import stage_store


def list_stages(root: str) -> list[str]:
    """Human-readable stage listing with marker provenance."""
    lines = []
    for stage in stage_store.stages(root):
        info = stage_store.marker_info(root, stage)
        if info is None:
            lines.append(f" - {stage}  [UNCOMMITTED]")
            continue
        extras = [f"run_id={info['run_id']}"] if "run_id" in info else []
        for kind in ("upserts", "appends", "compactions"):
            if info.get(kind):
                last = info[kind][-1]
                extras.append(f"{kind}={len(info[kind])} last_run={last['run_id']}")
        lines.append(f" - {stage}  committed  {' '.join(extras)}")
    return lines


def remove_stage(root: str, stage: str, confirm: bool) -> str:
    """Drop a stage dir (and its swap leftovers) — gated on confirm,
    exactly like the reference's ``--remove``/``--confirm`` pair."""
    path = os.path.join(root, stage)
    if not os.path.isdir(path):
        return f"no such stage: {stage}"
    if not confirm:
        return "pass --confirm to actually remove"
    shutil.rmtree(path)
    for kind in ("tmp", "old"):
        for d in stage_store._siblings(root, stage, kind):
            shutil.rmtree(d)
    return f"stage '{stage}' removed"


def gc(root: str) -> list[str]:
    """Remove orphaned swap dirs for every committed stage."""
    return stage_store.gc_all(root)


def recover(root: str) -> list[tuple[str, str]]:
    """Run crash recovery for every stage that lost its directory (or
    marker) mid-swap; returns [(stage, action)] for repaired stages.
    stage_store.stages() includes names known only from swap leftovers,
    so a stage whose path vanished entirely is still found and restored."""
    actions = []
    for stage in stage_store.stages(root):
        action = stage_store.recover_stage(root, stage)
        if action is not None:
            actions.append((stage, action))
    return actions


def compact(
    root: str, stage: str, target_mb: int, min_files: int,
    spark=None,
) -> dict:
    """Binpack an append-fragmented stage (stage_store.compact_stage);
    Iceberg ``rewrite_data_files`` in production.  No-op below the
    file-count trigger, so it is safe to run on a schedule."""
    import time

    if spark is None:
        from ..session import build_session

        spark = build_session("stage_admin_compact")
    return stage_store.compact_stage(
        spark,
        root,
        stage,
        run_id=f"compact-{int(time.time())}",
        target_bytes=target_mb << 20,
        min_files=min_files,
    )


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="committed stage-table admin")
    p.add_argument("root", help="stage store root (the pipeline warehouse dir)")
    p.add_argument("--list", action="store_true", help="list stages + marker info")
    p.add_argument("--remove", type=str, default=None, help="stage name to drop")
    p.add_argument("--confirm", action="store_true", help="actually perform --remove")
    p.add_argument("--gc", action="store_true", help="delete orphaned .tmp-*/.old-* swap dirs")
    p.add_argument("--recover", action="store_true", help="repair stages interrupted mid-swap")
    p.add_argument("--compact", type=str, default=None,
                   help="binpack an append-fragmented stage's small files")
    p.add_argument("--target-mb", type=int, default=128,
                   help="target compacted file size for --compact (MiB)")
    p.add_argument("--min-files", type=int, default=8,
                   help="--compact is a no-op at or below this many files")
    args = p.parse_args(argv)

    if args.recover:
        repaired = recover(args.root)
        for stage, action in repaired:
            print(f"recovered {stage}: {action}")
        if not repaired:
            print("nothing to recover")
    if args.gc:
        removed = gc(args.root)
        for d in removed:
            print(f"removed {d}")
        if not removed:
            print("no orphan swap dirs")
    if args.list:
        print(f"stages under {args.root}:")
        for line in list_stages(args.root):
            print(line)
    if args.remove:
        print(remove_stage(args.root, args.remove, args.confirm))
    if args.compact:
        res = compact(args.root, args.compact, args.target_mb, args.min_files)
        if res["action"] == "noop":
            print(
                f"stage '{args.compact}' already compact "
                f"({res['files_before']} files <= target {res['target_files']})"
            )
        else:
            print(
                f"stage '{args.compact}' compacted: {res['files_before']} -> "
                f"{res['files_after']} files ({res['bytes']} bytes)"
            )


if __name__ == "__main__":
    main()
