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

Pure os/json — no SparkSession needed, so it runs instantly against a
warehouse a dead job left behind.
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
        for kind in ("upserts", "appends"):
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


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="committed stage-table admin")
    p.add_argument("root", help="stage store root (the pipeline warehouse dir)")
    p.add_argument("--list", action="store_true", help="list stages + marker info")
    p.add_argument("--remove", type=str, default=None, help="stage name to drop")
    p.add_argument("--confirm", action="store_true", help="actually perform --remove")
    p.add_argument("--gc", action="store_true", help="delete orphaned .tmp-*/.old-* swap dirs")
    p.add_argument("--recover", action="store_true", help="repair stages interrupted mid-swap")
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


if __name__ == "__main__":
    main()
