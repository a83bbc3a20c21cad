"""The benchmark's own tests: a tiny-size run of each workload finishes
with every check passing, and each output check rejects a deliberately
corrupted result.

    python -m pytest perfbench/tests -q --basetemp=perfbench/.work/pytest
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path[:0] = [BENCH_DIR, os.path.dirname(BENCH_DIR)]

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

TINY_DOCS = 40
TINY_SCALE = 0.02


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench"))


@pytest.fixture(scope="module")
def spark(work):
    session = run.start_session(2, work)
    yield session
    run.stop_session(session)


def bench(spark, work: str) -> workloads.Bench:
    return workloads.Bench(spark, Tracer(spark), inputs.Cache(os.path.join(work, "cache")),
                           os.path.join(work, "runs"), seed=3, seconds=0, trace=True, workers=2)


@pytest.fixture(scope="module")
def pipeline_run(spark, work):
    b = bench(spark, work)
    workloads.pipeline(b, TINY_DOCS)
    b.count_span_failures()
    return b


@pytest.fixture(scope="module")
def queries_run(spark, work):
    b = bench(spark, work)
    workloads.queries(b, TINY_SCALE)
    b.count_span_failures()
    return b


def test_tiny_pipeline_run_passes_its_checks(pipeline_run):
    b = pipeline_run
    assert b.failed == 0, b.problems
    # pipeline + 2 checks, vector build, increment + 1 check
    assert b.attempted == 1 + 2 + 1 + 1 + 1
    for name in ("pipeline_s", "vector_build_s", "incremental_s", "stage_store.commit_s.pages",
                 "stage_store.upsert_s.doc_text", "extract.noop_s", "incremental.delta_urls"):
        assert b.layers[name] > 0, name
    spans = b.tracer.spans
    commits = {s["stage"] for s in spans if s["name"] == "stage_store.commit"}
    assert commits == set(workloads.COMMIT_STAGES)
    # the commit spans, the tracer's own probes after each commit and the
    # unattributed rest make up the traced run
    run_span = spans[b.top_spans("run_pipeline")[0]]
    commit_spans = [s for s in b.tracer.children(run_span["id"]) if s["name"] == "stage_store.commit"]
    accounted = sum(s["end"] - s["start"] + s["probe_s"] for s in commit_spans)
    assert accounted + b.layers["pipeline.unattributed_s"] == pytest.approx(
        run_span["end"] - run_span["start"])


def test_tiny_queries_run_passes_its_checks(queries_run):
    b = queries_run
    assert b.failed == 0, b.problems
    # warm-up and measured round: each query run and checked
    assert b.attempted == 2 * 2 * len(workloads.QUERY_NAMES)
    assert b.layers["query_suite_s"] > 0
    for q in workloads.QUERY_NAMES:
        assert b.layers[f"query.{q}.tasks"] > 0, q


def corrupt_copy(src_root: str, dst_root: str, stage: str, edit) -> str:
    """Copy one committed stage's rows to ``dst_root`` with ``edit``
    applied to its rows (a list of dicts)."""
    table = pq.read_table(os.path.join(src_root, stage))
    shutil.rmtree(os.path.join(dst_root, stage), ignore_errors=True)
    os.makedirs(os.path.join(dst_root, stage))
    pq.write_table(pa.Table.from_pylist(edit(table.to_pylist()), schema=table.schema),
                   os.path.join(dst_root, stage, "part-00000.parquet"))
    return dst_root


def corpus_expected(work: str, name: str) -> dict:
    entry = os.path.join(work, "cache", name)
    return inputs.load_json(os.path.join(entry, "expected.json"))


def test_doc_text_check_rejects_one_changed_byte(pipeline_run, work, tmp_path):
    root = os.path.join(pipeline_run.work, "pipeline")
    expected = corpus_expected(work, f"corpus-s3-n{TINY_DOCS}")
    assert checks.check_doc_text(root, expected) == []

    def flip_one_byte(rows):
        row = next(r for r in rows if r["extracted_text"])
        text = row["extracted_text"]
        row["extracted_text"] = ("#" if text[0] != "#" else "$") + text[1:]
        return rows

    bad = corrupt_copy(root, str(tmp_path), "doc_text", flip_one_byte)
    problems = checks.check_doc_text(bad, expected)
    assert len(problems) == 1 and "differs from the oracle" in problems[0]


def test_chunk_check_rejects_a_shifted_span(pipeline_run, work, tmp_path):
    root = os.path.join(pipeline_run.work, "pipeline")
    expected = corpus_expected(work, f"corpus-s3-n{TINY_DOCS}")
    assert checks.check_chunks(root, expected) == []

    def shift(rows):
        rows[0]["span_end"] += 1
        return rows

    assert checks.check_chunks(corrupt_copy(root, str(tmp_path), "chunks", shift), expected)


def test_query_check_rejects_a_dropped_row(spark, queries_run, work):
    import __spark_entry__ as entry
    import pandas as pd

    path = os.path.join(work, "cache", f"tables-sf{TINY_SCALE}")
    name = "pricing_summary"
    expected = pd.read_pickle(os.path.join(path, "expected", f"{name}.pkl"))
    got = checks.Collected(entry.queries()[name](spark, os.path.join(path, "tables")))
    assert checks.check_query(name, got, expected) == []
    got._rows = got._rows[1:]
    assert checks.check_query(name, got, expected)


def test_incremental_check_rejects_a_stale_row(pipeline_run, work, tmp_path):
    root = os.path.join(pipeline_run.work, "incremental")
    corpus_name = f"corpus-s3-n{TINY_DOCS}"
    after = corpus_expected(work, f"recrawl-s3-{corpus_name}")
    before = corpus_expected(work, corpus_name)
    assert checks.check_doc_text(root, after) == []
    changed = sorted(u for u in before if after.get(u) and before[u] != after[u])
    assert changed, "the re-crawl changed no document's text"
    url = changed[0]

    def stale(rows):
        for r in rows:
            if r["url"] == url:
                r["extracted_text"] = before[url]
        return [r for r in rows if r["extracted_text"]]

    problems = checks.check_doc_text(corrupt_copy(root, str(tmp_path), "doc_text", stale), after)
    assert problems == [f"doc_text differs from the oracle for {url}"]


def test_supervisor_reaps_an_orphaned_process():
    """A process orphaned by the measuring child is re-parented to the
    supervisor, which waits for it and ends it after the grace period.
    Runs in its own interpreter: ``reap_all`` ends every descendant."""
    import subprocess

    script = f"""
import os, subprocess, sys
sys.path.insert(0, {BENCH_DIR!r})
import procs, run
run.become_subreaper()
orphan = ("import subprocess, sys; subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)'], "
          "stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)")
subprocess.run([sys.executable, "-c", orphan], check=True)
assert procs.below(os.getpid(), procs.stats()), "the orphan was not re-parented to the supervisor"
run.reap_all(grace=0.5)
assert not procs.below(os.getpid(), procs.stats())
print("reaped")
"""
    res = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=60)
    assert res.returncode == 0 and res.stdout.strip() == "reaped", res.stderr
