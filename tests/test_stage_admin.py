"""Crash-window recovery + admin CLI for the committed stage store.

The swap in commit_stage/upsert_stage has a window between
rename(path->old) and rename(tmp->path) where the stage path is
missing; these tests simulate each crash point by reproducing the
on-disk state it leaves behind and assert is_committed/read_stage heal
it.  The CLI mirrors the reference's collection manager
(fix_vector_db.py:20-33 --list/--remove/--confirm) plus gc/recover.
"""

import json
import os
import shutil

import pytest

from pdf_extraction_spark.plans import stage_admin, stage_store


def _mk_stage(spark, root, stage, rows, run_id="r1", mark=True):
    df = spark.createDataFrame(rows, "k long, v string")
    path = os.path.join(root, stage)
    df.write.mode("overwrite").parquet(path)
    if mark:
        with open(os.path.join(path, stage_store.MARKER), "w") as fh:
            json.dump({"run_id": run_id, "committed_at": 0.0}, fh)
    return path


def test_recover_promotes_marked_tmp(spark, work_dir):
    """Crash between rename(path->old) and rename(tmp->path): the new
    snapshot was fully written+marked in tmp -> the commit takes
    effect (tmp promoted), the old rolled-aside snapshot is GC'd."""
    root = f"{work_dir}/rec1"
    os.makedirs(root)
    _mk_stage(spark, root, "s", [(1, "old")], run_id="base")
    os.rename(os.path.join(root, "s"), os.path.join(root, "s.old-new"))
    tmp = _mk_stage(spark, root, "s", [(2, "new")], run_id="new")
    os.rename(tmp, os.path.join(root, "s.tmp-new"))

    assert not os.path.exists(os.path.join(root, "s"))
    assert stage_store.is_committed(root, "s")  # heals in place
    got = stage_store.read_stage(spark, root, "s").collect()
    assert [(r.k, r.v) for r in got] == [(2, "new")]
    assert stage_store.marker_info(root, "s")["run_id"] == "new"
    # swap leftovers gone
    assert not os.path.exists(os.path.join(root, "s.old-new"))
    assert not os.path.exists(os.path.join(root, "s.tmp-new"))


def test_recover_restores_marked_old_when_tmp_unmarked(spark, work_dir):
    """Crash while writing tmp after path was renamed aside (or tmp's
    marker never landed): roll back to the old snapshot; the
    half-written tmp is garbage-collected."""
    root = f"{work_dir}/rec2"
    os.makedirs(root)
    _mk_stage(spark, root, "s", [(1, "old")], run_id="base")
    os.rename(os.path.join(root, "s"), os.path.join(root, "s.old-new"))
    tmp = _mk_stage(spark, root, "s", [(2, "half")], run_id="new", mark=False)
    os.rename(tmp, os.path.join(root, "s.tmp-new"))

    assert stage_store.is_committed(root, "s")
    got = stage_store.read_stage(spark, root, "s").collect()
    assert [(r.k, r.v) for r in got] == [(1, "old")]
    assert stage_store.marker_info(root, "s")["run_id"] == "base"
    assert not os.path.exists(os.path.join(root, "s.tmp-new"))


def test_recover_noop_without_snapshots(work_dir):
    root = f"{work_dir}/rec3"
    os.makedirs(root, exist_ok=True)
    assert stage_store.recover_stage(root, "missing") is None
    assert not stage_store.is_committed(root, "missing")


def test_gc_removes_orphans_only_when_committed(spark, work_dir):
    """Crash after rename(tmp->path) but before rmtree(old): path is
    committed, the old dir is an orphan -> gc removes it (and stale
    tmps) without touching the live stage."""
    root = f"{work_dir}/gc"
    os.makedirs(root)
    _mk_stage(spark, root, "s", [(1, "live")], run_id="r2")
    _mk_stage(spark, root, "s_old_src", [(0, "stale")], run_id="r1")
    os.rename(os.path.join(root, "s_old_src"), os.path.join(root, "s.old-r2"))
    os.makedirs(os.path.join(root, "s.tmp-r3"))

    removed = stage_store.gc_stage(root, "s")
    assert sorted(os.path.basename(p) for p in removed) == ["s.old-r2", "s.tmp-r3"]
    assert stage_store.is_committed(root, "s")
    got = stage_store.read_stage(spark, root, "s").collect()
    assert [(r.k, r.v) for r in got] == [(1, "live")]


def test_startup_gc_spares_live_writer_tmp(spark, work_dir):
    """The pipeline-startup GC (kinds=("old",)) must never delete a
    `.tmp-*` dir: an unmarked tmp is indistinguishable from a LIVE
    out-of-process writer's in-progress snapshot (round-5 advice) —
    only `.old-*` swap leftovers are safe to sweep there.  The full
    sweep stays available for the explicit admin --gc path."""
    root = f"{work_dir}/gc_live"
    os.makedirs(root)
    _mk_stage(spark, root, "s", [(1, "live")], run_id="r2")
    os.makedirs(os.path.join(root, "s.old-r2"))
    os.makedirs(os.path.join(root, "s.tmp-r3"))  # maybe a live writer

    removed = stage_store.gc_all(root, kinds=("old",))
    assert sorted(os.path.basename(p) for p in removed) == ["s.old-r2"]
    assert os.path.isdir(os.path.join(root, "s.tmp-r3"))  # untouched

    removed = stage_store.gc_all(root)  # admin full sweep
    assert sorted(os.path.basename(p) for p in removed) == ["s.tmp-r3"]


def test_admin_cli_list_remove_confirm_recover(spark, work_dir, capsys):
    root = f"{work_dir}/cli"
    os.makedirs(root)
    _mk_stage(spark, root, "pages", [(1, "a")], run_id="base")
    _mk_stage(spark, root, "chunks", [(2, "b")], run_id="base")

    stage_admin.main([root, "--list"])
    out = capsys.readouterr().out
    assert "pages" in out and "chunks" in out and "run_id=base" in out

    # remove is guarded exactly like the reference's --confirm gate
    stage_admin.main([root, "--remove", "chunks"])
    assert "--confirm" in capsys.readouterr().out
    assert os.path.exists(os.path.join(root, "chunks"))
    stage_admin.main([root, "--remove", "chunks", "--confirm"])
    assert "removed" in capsys.readouterr().out
    assert not os.path.exists(os.path.join(root, "chunks"))

    # recover finds a stage whose path vanished entirely mid-swap
    os.rename(os.path.join(root, "pages"), os.path.join(root, "pages.tmp-x"))
    stage_admin.main([root, "--recover"])
    assert "recovered pages: promoted_tmp" in capsys.readouterr().out
    assert stage_store.is_committed(root, "pages")

    shutil.rmtree(root)


def test_writer_tolerates_reader_promoted_tmp(spark, work_dir):
    """A reader's recover_stage racing the writer's swap window can
    promote the writer's marked tmp itself; the writer's own renames
    then hit FileNotFoundError.  _swap_into_place treats that as
    success iff the snapshot at path carries THIS run's marker — so a
    reader concurrent with a single out-of-process writer never fails
    the writer's commit (round-4 advice item 2)."""
    root = f"{work_dir}/race1"
    os.makedirs(root)
    # State after the race: reader already promoted the marked tmp to
    # path; the writer still holds tmp's (now-dangling) name.
    _mk_stage(spark, root, "s", [(2, "new")], run_id="new")
    stage_store._swap_into_place(
        os.path.join(root, "s"), os.path.join(root, "s.tmp-new"), "new"
    )
    got = stage_store.read_stage(spark, root, "s").collect()
    assert [(r.k, r.v) for r in got] == [(2, "new")]

    # Same shape but the snapshot at path belongs to ANOTHER run: the
    # missing tmp is a genuine error, not a healed race -> must raise.
    root2 = f"{work_dir}/race2"
    os.makedirs(root2)
    _mk_stage(spark, root2, "s", [(1, "other")], run_id="someone_else")
    with pytest.raises(FileNotFoundError):
        stage_store._swap_into_place(
            os.path.join(root2, "s"), os.path.join(root2, "s.tmp-mine"), "mine"
        )
    # and the foreign snapshot must survive the failed swap intact
    assert stage_store._marked_with(os.path.join(root2, "s"), "someone_else")


def test_append_marker_write_is_atomic(spark, work_dir, monkeypatch):
    """A crash while append_stage writes its snapshot's marker must
    leave the stage exactly as it was: the append publishes a new
    snapshot through _publish, so the torn marker lies in an unmarked
    temp dir and readers keep the previous snapshot and marker."""
    root = f"{work_dir}/torn"
    os.makedirs(root)
    base = spark.createDataFrame([(1, "a")], "k long, v string")
    stage_store.commit_stage(base, root, "s", "r1")

    def torn_dump(obj, fh):
        fh.write(json.dumps(obj)[:5])
        raise OSError("disk full")

    inc = spark.createDataFrame([(2, "b")], "k long, v string")
    with monkeypatch.context() as m:
        m.setattr(stage_store.json, "dump", torn_dump)
        with pytest.raises(OSError, match="disk full"):
            stage_store.append_stage(inc, root, "s", "a1")

    assert stage_store.is_committed(root, "s")
    assert stage_store.marker_info(root, "s")["run_id"] == "r1"
    got = stage_store.read_stage(spark, root, "s").collect()
    assert sorted(r.k for r in got) == [1]


def test_appends_keep_file_count_bounded(spark, work_dir):
    """Each append rewrites committed ∪ increment as one snapshot, and
    the scan packs the small files earlier appends left, so many small
    appends do not pile up part files."""
    root = f"{work_dir}/appends"
    os.makedirs(root)
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(8)], "k long, v string"
    ).repartition(6)
    stage_store.commit_stage(base, root, "s", "r1")
    for j in range(12):
        inc = spark.createDataFrame([(100 + j, "a")], "k long, v string")
        stage_store.append_stage(inc, root, "s", f"a{j}")

    files = stage_store._part_files(os.path.join(root, "s"))
    assert len(files) <= 2 * spark.sparkContext.defaultParallelism, len(files)
    got = sorted(r.k for r in stage_store.read_stage(spark, root, "s").collect())
    assert got == list(range(8)) + [100 + j for j in range(12)]
    info = stage_store.marker_info(root, "s")
    assert [e["run_id"] for e in info["appends"]] == [f"a{j}" for j in range(12)]


def test_retry_after_crash_before_marker(spark, work_dir):
    """A crash between the snapshot write and the marker write leaves a
    non-empty unmarked tmp; a retry with the same run_id overwrites it."""
    root = f"{work_dir}/retry"
    os.makedirs(root)
    leftover = os.path.join(root, "s.tmp-r1")
    os.makedirs(leftover)
    with open(os.path.join(leftover, "part-junk.parquet"), "w") as fh:
        fh.write("half-written garbage")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    out = stage_store.commit_stage(df, root, "s", "r1")
    assert sorted((r.k, r.v) for r in out.collect()) == [(1, "a"), (2, "b")]
    assert stage_store.marker_info(root, "s")["run_id"] == "r1"
    assert not os.path.exists(leftover)


def test_upsert_schema_evolution_widens_stage(spark, work_dir):
    """A schema-evolving upsert widens the stage via
    unionByName(allowMissingColumns): the returned frame and every later
    read see the new column, null for the rows the upsert kept."""
    root = f"{work_dir}/evolve"
    os.makedirs(root)
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    stage_store.commit_stage(base, root, "s", "r1")

    widened = spark.createDataFrame([(2, "b2", 9.5)], "k long, v string, w double")
    up = stage_store.upsert_stage(widened, root, "s", "r2", ["k"])
    assert "w" in up.columns
    again = stage_store.read_stage(spark, root, "s")
    rows = {r.k: (r.v, r.w) for r in again.collect()}
    assert rows == {1: ("a", None), 2: ("b2", 9.5)}


def test_legacy_bucketed_stage_keeps_working(spark, work_dir):
    """Stores committed before the one-layout store hold bucketed part
    files (bucketBy + sortBy through a path-backed table) and a marker
    carrying a ``bucket`` spec.  They are plain parquet underneath, so
    read, upsert and append serve them without migration."""
    root = f"{work_dir}/legacy_bucketed"
    os.makedirs(root)
    path = os.path.join(root, "s")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(16)], "k long, v string"
    ).repartition(4)
    table = "legacy_bucketed_s"
    (
        df.write.bucketBy(4, "k").sortBy("k")
        .option("path", path).saveAsTable(table)
    )
    spark.sql(f"DROP TABLE {table}")  # metadata only; files stay
    stage_store._write_marker(path, {
        "run_id": "r0", "committed_at": 0.0,
        "bucket": {"keys": ["k"], "n": 4, "ddl": "`k` bigint, `v` string"},
    })
    expected = {i: f"v{i}" for i in range(16)}

    def rows():
        return {r.k: r.v for r in stage_store.read_stage(spark, root, "s").collect()}

    assert rows() == expected

    up = spark.createDataFrame([(3, "NEW"), (99, "NEW")], "k long, v string")
    stage_store.upsert_stage(up, root, "s", "u1", ["k"])
    expected.update({3: "NEW", 99: "NEW"})
    assert rows() == expected

    for j in range(3):
        inc = spark.createDataFrame([(200 + j, "a")], "k long, v string")
        stage_store.append_stage(inc, root, "s", f"a{j}")
        expected[200 + j] = "a"
    assert rows() == expected
    info = stage_store.marker_info(root, "s")
    assert [e["run_id"] for e in info["appends"]] == ["a0", "a1", "a2"]


def test_append_then_upsert_lifecycle(spark, work_dir):
    """Appends then a MERGE upsert: each keeps the rows right and the
    marker keeps both histories."""
    root = f"{work_dir}/lifecycle"
    os.makedirs(root)
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(4)], "k long, v string"
    )
    stage_store.commit_stage(base, root, "s", "r1")
    for j in range(2):
        inc = spark.createDataFrame([(10 + j, "a")], "k long, v string")
        stage_store.append_stage(inc, root, "s", f"a{j}")

    up = spark.createDataFrame([(0, "NEW"), (11, "NEW")], "k long, v string")
    stage_store.upsert_stage(up, root, "s", "u1", keys=["k"])
    got = {r.k: r.v for r in stage_store.read_stage(spark, root, "s").collect()}
    assert got == {0: "NEW", 1: "v1", 2: "v2", 3: "v3", 10: "a", 11: "NEW"}
    info = stage_store.marker_info(root, "s")
    assert info["run_id"] == "r1"
    assert [e["run_id"] for e in info["appends"]] == ["a0", "a1"]
    assert [e["run_id"] for e in info["upserts"]] == ["u1"]
    assert stage_admin.list_stages(root) == [
        " - s  committed  run_id=r1 upserts=1 last_run=u1 appends=2 last_run=a1"
    ]
