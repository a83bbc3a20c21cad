"""North-rule per-row invariant: byte-identical extracted text per url
between the distributed pipeline and the single-process oracle
(SURVEY.md §5 item 1), plus layout-engine reconciliation and the
pipeline resume contract (§5 item 4)."""

import pytest

from pdf_extraction_spark import oracle
from pdf_extraction_spark.constants import SPDF_MAGIC
from pdf_extraction_spark.operators import layout
from pdf_extraction_spark.plans import stage_store
from pdf_extraction_spark.plans.pipeline import STAGES, run_pipeline
from pdf_extraction_spark.sources.corpus import corpus_df, generate_corpus

N_DOCS = 80


@pytest.fixture(scope="module")
def corpus_rows():
    return generate_corpus(N_DOCS)


@pytest.fixture(scope="module")
def oracle_out(corpus_rows):
    return oracle.extract_corpus(corpus_rows)


@pytest.fixture(scope="module")
def pipeline_out(spark, work_dir, corpus_rows):
    inp = corpus_df(spark, N_DOCS)
    return run_pipeline(spark, inp, f"{work_dir}/pipe", resume=False)


def test_layout_engine_matches_oracle_per_page(corpus_rows):
    """numpy layout engine == pure-Python oracle, page by page."""
    checked = 0
    for row in corpus_rows:
        payload = row["html"]
        if not payload or not payload.startswith(SPDF_MAGIC):
            continue
        o_pages = oracle.extract_document(payload)
        l_pages = layout.extract_payload(payload)
        assert len(o_pages) == len(l_pages)
        for op, lp in zip(o_pages, l_pages):
            checked += 1
            assert op["md_lines"] == lp["md_lines"]
            assert op["ocr_triggered"] == lp["ocr_triggered"]
            assert abs(op["visual_density"] - lp["visual_density"]) < 1e-9
            o_cells = [
                (c["row"], c["col"], c["text"], c["row_span"], c["col_span"])
                for t in op["tables"] for c in t["cells"]
            ]
            l_cells = [
                (c["row"], c["col"], c["text"], c["row_span"], c["col_span"])
                for t in lp["tables"] for c in t["cells"]
            ]
            assert o_cells == l_cells
            assert [t["title"] for t in op["tables"]] == [t["title"] for t in lp["tables"]]
    assert checked > 30  # corpus must exercise the SPDF path
    # the <i4 views in layout.py are byte-order-exact only over explicit LE glyphs
    assert layout._expand_glyphs([(0.0, 0.0, 10.0, "ab")])[0].dtype.str == "<U1"


def test_pipeline_text_byte_identical(pipeline_out, oracle_out):
    got = {r["url"]: r["extracted_text"] for r in pipeline_out["doc_text"].collect()}
    mismatches = [
        url for url, v in oracle_out.items() if got.get(url, "") != v["text"]
    ]
    assert mismatches == []
    assert sum(1 for v in oracle_out.values() if v["text"]) == len(got)


def test_chunk_invariants(pipeline_out):
    """chunk_text == substring(extracted_text, start, end); spans cover
    the doc with the configured overlap (FIXTURES.md §3)."""
    docs = {r["url"]: r["extracted_text"] for r in pipeline_out["doc_text"].collect()}
    chunks = pipeline_out["chunks"].collect()
    assert chunks
    by_url: dict[str, list] = {}
    for c in chunks:
        assert c["chunk_text"] == docs[c["url"]][c["span_start"]:c["span_end"]]
        assert 0 < c["span_end"] - c["span_start"] <= 512
        by_url.setdefault(c["url"], []).append((c["span_start"], c["span_end"]))
    for url, spans in by_url.items():
        spans.sort()
        assert spans[0][0] == 0
        assert spans[-1][1] == len(docs[url])
        for (s0, e0), (s1, e1) in zip(spans, spans[1:]):
            assert s1 <= e0  # overlap or contiguous: no gaps


def test_metrics_lineage(pipeline_out):
    m = pipeline_out["metrics"].collect()
    # page units of one url scatter across partitions (skew defense), so
    # per-partition distinct-url counts over-count globally
    assert sum(r["urls_in"] for r in m) >= N_DOCS
    assert pipeline_out["pages"].select("url").distinct().count() == N_DOCS
    assert sum(r["pages_out"] for r in m) == pipeline_out["pages"].filter("page_no > 0").count()
    assert all(r["run_id"] for r in m)
    assert sum(r["ocr_triggered"] for r in m) > 0


@pytest.mark.parametrize("crashed", STAGES)
def test_resume_skips_committed_stages(spark, work_dir, oracle_out, crash_before_commit, crashed):
    """Crash before ``crashed`` commits; the resumed run must commit
    every stage, keep the earlier stages' snapshots (same run_id
    marker) and finish identically."""
    root = f"{work_dir}/resume-{crashed}"
    inp = corpus_df(spark, N_DOCS)
    with crash_before_commit(crashed):
        run_pipeline(spark, inp, root, resume=False, run_id="run-one")
    before = STAGES[:STAGES.index(crashed)]
    assert [s for s in STAGES if stage_store.is_committed(root, s)] == before

    out = run_pipeline(spark, inp, root, resume=True, run_id="run-two")
    for stage in STAGES:
        expected = "run-one" if stage in before else "run-two"
        assert stage_store.marker_info(root, stage)["run_id"] == expected, stage
    got = {r["url"]: r["extracted_text"] for r in out["doc_text"].collect()}
    assert got == {u: v["text"] for u, v in oracle_out.items() if v["text"]}


def test_resume_after_midswap_kill_reprocesses_nothing(
    spark, work_dir, oracle_out, monkeypatch
):
    """Round-4 verdict item 5: kill a REAL pipeline run between the two
    renames of commit_stage's swap (path->old done, tmp->path not) and
    assert the resume run heals the stage from the marked tmp without
    recomputing a single url — the fully-written-and-marked snapshot IS
    the commit."""
    import os as _os

    root = f"{work_dir}/midswap"
    inp = corpus_df(spark, N_DOCS)
    run_pipeline(spark, inp, root, resume=False, run_id="run-one")

    # second run recomputes page_text; inject the kill mid-swap: AFTER
    # the committed snapshot is renamed aside, BEFORE tmp lands
    real_rename = _os.rename
    target_old = _os.path.join(root, "page_text.old-run-two")

    def killer(src, dst):
        real_rename(src, dst)
        if dst == target_old:
            raise RuntimeError("injected mid-swap kill")

    monkeypatch.setattr(stage_store.os, "rename", killer)
    with pytest.raises(RuntimeError, match="mid-swap kill"):
        run_pipeline(spark, inp, root, resume=False, run_id="run-two")
    monkeypatch.setattr(stage_store.os, "rename", real_rename)

    # crash state: stage path missing, marked tmp + rolled-aside old
    assert not _os.path.exists(_os.path.join(root, "page_text"))
    assert _os.path.exists(_os.path.join(root, "page_text.tmp-run-two"))

    # resume must touch ZERO urls: every stage function would recompute
    # through these entry points — make any call fail the test
    from pdf_extraction_spark.plans import pipeline as pl

    def _no_recompute(name):
        def boom(*a, **k):
            raise AssertionError(f"resume recomputed stage via {name}")
        return boom

    for fn in ("extract_stage", "ocr_stage", "merge_ocr",
               "assemble_documents", "chunk_stage", "_strip"):
        monkeypatch.setattr(pl, fn, _no_recompute(fn))

    out = run_pipeline(spark, inp, root, resume=True, run_id="run-three")
    # the killed run's fully-written snapshot took effect...
    assert stage_store.marker_info(root, "page_text")["run_id"] == "run-two"
    # ...swap leftovers were healed+GC'd...
    assert not _os.path.exists(_os.path.join(root, "page_text.tmp-run-two"))
    assert not _os.path.exists(_os.path.join(root, "page_text.old-run-two"))
    # ...and the output is still byte-identical to the oracle
    got = {r["url"]: r["extracted_text"] for r in out["doc_text"].collect()}
    assert all(got.get(u, "") == v["text"] for u, v in oracle_out.items())


def test_pipeline_start_gcs_old_leftovers(spark, work_dir):
    """Round-4 verdict item 7: a run that died after its swap landed
    but before rmtree leaves `.old-*` dirs; the next pipeline run GCs
    them up front instead of letting them accumulate."""
    import os as _os

    root = f"{work_dir}/gcstart"
    inp = corpus_df(spark, 20)
    run_pipeline(spark, inp, root, resume=False, run_id="gc-one")
    # simulate the crash-after-swap leftover
    leftover = _os.path.join(root, "pages.old-dead")
    _os.makedirs(leftover)
    with open(_os.path.join(leftover, stage_store.MARKER), "w") as fh:
        fh.write("{}")

    run_pipeline(spark, inp, root, resume=True, run_id="gc-two")
    assert not _os.path.exists(leftover)
    assert stage_store.is_committed(root, "pages")
