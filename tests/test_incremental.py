"""Incremental per-url extraction (anti-join against the committed
snapshot) + spark-submit packaging."""

import pytest

from pdf_extraction_spark import oracle
from pdf_extraction_spark.plans import stage_store
from pdf_extraction_spark.plans.pipeline import run_incremental, run_pipeline
from pdf_extraction_spark.sources.corpus import corpus_df, generate_corpus


def test_incremental_extracts_only_new_urls(spark, work_dir):
    root = f"{work_dir}/incr"
    run_pipeline(spark, corpus_df(spark, 60), root, resume=False, run_id="base")

    out = run_incremental(spark, corpus_df(spark, 90), root, run_id="incr")
    # extraction increment covered exactly the 30 new urls
    m = out["metrics"].filter("stage = 'extract_increment'").collect()
    assert sum(r["urls_in"] for r in m) >= 30
    inc_urls = {
        r["url"]
        for r in out["pages"].select("url").distinct().collect()
    }
    assert len(inc_urls) == 90
    info = stage_store.marker_info(root, "pages")
    assert info["run_id"] == "base"
    assert [a["run_id"] for a in info.get("upserts", [])] == ["incr"]

    # final text byte-identical to the oracle over the full 90 docs
    exp = oracle.extract_corpus(generate_corpus(90))
    got = {r["url"]: r["extracted_text"] for r in out["doc_text"].collect()}
    assert all(got.get(u, "") == v["text"] for u, v in exp.items())


def test_incremental_merge_replaces_changed_url(spark, work_dir):
    """MERGE semantics (reference ON DUPLICATE KEY UPDATE,
    load_to_db.py:338-364): re-running with one url's content changed
    re-extracts exactly that url, replaces its rows in place (one row
    set per url, new content wins), and leaves everything else
    untouched."""
    from pyspark.sql import functions as F

    root = f"{work_dir}/merge"
    base = corpus_df(spark, 40)
    run_pipeline(spark, base, root, resume=False, run_id="base")

    rows = base.select("url", "html").orderBy("url").limit(2).collect()
    target, donor = rows[0], rows[1]
    mutated = base.withColumn(
        "html",
        F.when(F.col("url") == target.url, F.lit(donor.html)).otherwise(
            F.col("html")
        ),
    )
    out = run_incremental(spark, mutated, root, run_id="upd")

    # only the changed url was re-extracted
    m = out["metrics"].filter("stage = 'extract_increment'").collect()
    assert sum(r["urls_in"] for r in m) == 1
    # no duplicate page rows: each (url, page_no) appears once
    dupes = (
        out["pages"].groupBy("url", "page_no").count().filter("count > 1").count()
    )
    assert dupes == 0
    # new content wins: the target url now extracts like the donor's html
    got = {r["url"]: r["extracted_text"] for r in out["doc_text"].collect()}
    assert got.get(target.url, "") == got.get(donor.url, "")
    # idempotence: a second incremental run with the same input is a no-op
    out2 = run_incremental(spark, mutated, root, run_id="noop")
    m2 = out2["metrics"].filter("stage = 'extract_increment'").collect()
    assert sum(r["urls_in"] for r in m2 if r["run_id"] == "noop") == 0


def test_incremental_downstream_is_host_scoped(spark, work_dir):
    """Downstream text stages on an incremental run recompute only the
    AFFECTED hosts (those that received new/changed pages); every other
    host's page_text/doc_text/chunks rows survive the increment
    untouched, the stage markers keep their original run_id (the merge
    is an upsert, not a re-commit), and the final state is
    byte-identical to a from-scratch run over the full corpus."""
    from pyspark.sql import functions as F

    root = f"{work_dir}/hostscope"
    base = corpus_df(spark, 60)
    run_pipeline(spark, base, root, resume=False, run_id="base")
    base_urls = [r["url"] for r in base.select("url").collect()]

    # increment: the 60 base docs plus ONLY the new docs of host src0
    # (doc_id % 8 == 0), so exactly one host is affected
    inc_input = corpus_df(spark, 90).filter(
        (F.expr("parse_url(url, 'HOST')") == "src0.example")
        | F.col("url").isin(base_urls)
    )
    inc_urls = {r["url"] for r in inc_input.select("url").collect()}

    committed_pt = stage_store.read_stage(spark, root, "page_text")
    pages_base = stage_store.read_stage(spark, root, "pages")
    untouched_urls = {
        r["url"]
        for r in pages_base.filter(F.col("host") != "src0.example")
        .select("url").distinct().collect()
    }
    assert untouched_urls, "fixture corpus must leave at least one host untouched"
    before = {
        (r["url"], r["page_no"]): r["page_text"]
        for r in committed_pt.collect()
        if r["url"] in untouched_urls
    }

    out = run_incremental(spark, inc_input, root, run_id="incr")

    # untouched hosts' page_text rows survive bit-for-bit
    after = {
        (r["url"], r["page_no"]): r["page_text"]
        for r in out["page_text"].collect()
        if r["url"] in untouched_urls
    }
    assert after == before

    # markers: original commit run_id preserved, increment recorded as upsert
    for stage in ("page_text", "doc_text", "chunks"):
        info = stage_store.marker_info(root, stage)
        assert info["run_id"] == "base", stage
        assert [u["run_id"] for u in info.get("upserts", [])] == ["incr"], stage

    # byte-identity with a from-scratch run over the incremented corpus
    exp = oracle.extract_corpus(
        [r for r in generate_corpus(90) if r["url"] in inc_urls]
    )
    got = {r["url"]: r["extracted_text"] for r in out["doc_text"].collect()}
    assert set(got) <= inc_urls
    assert all(got.get(u, "") == v["text"] for u, v in exp.items())

    # chunks stage merged consistently: every chunk is an exact span of
    # its document text (the chunk invariant), for new AND old hosts
    dt = out["doc_text"].select("url", "extracted_text")
    bad = (
        out["chunks"].join(dt, "url")
        .filter(
            F.expr(
                "chunk_text != substring(extracted_text, span_start + 1, "
                "span_end - span_start)"
            )
        )
        .count()
    )
    assert bad == 0


def test_incremental_null_payload_unchanged_is_noop(spark, work_dir):
    """A url whose html is null hashes the same in the change detector
    as on its committed pages, so re-running the same input is a no-op:
    no stage is re-committed or upserted."""
    from pyspark.sql import functions as F

    from pdf_extraction_spark.plans.pipeline import STAGES

    root = f"{work_dir}/nullpayload"
    base = corpus_df(spark, 12)
    null_url = base.select("url").orderBy("url").first().url
    inp = base.withColumn(
        "html", F.when(F.col("url") == null_url, F.lit(None)).otherwise(F.col("html"))
    )
    assert inp.filter(F.col("html").isNull()).count() == 1
    run_pipeline(spark, inp, root, resume=False, run_id="base")

    run_incremental(spark, inp, root, run_id="again")
    for stage in STAGES:
        info = stage_store.marker_info(root, stage)
        assert info["run_id"] == "base" and "upserts" not in info, (stage, info)


def test_incremental_retry_after_crash_redoes_text_stages(spark, work_dir, monkeypatch):
    """A run that dies before its page_text upsert publishes nothing:
    pages and metrics publish last, so the retry finds the same new
    urls and brings every stage up to date instead of returning early
    over stale text stages."""
    root = f"{work_dir}/crashretry"
    run_pipeline(spark, corpus_df(spark, 40), root, resume=False, run_id="base")
    upsert = stage_store.upsert_stage

    def crash_on_page_text(df, root, stage, *args, **kwargs):
        if stage == "page_text":
            raise RuntimeError("injected crash before the page_text upsert")
        return upsert(df, root, stage, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(stage_store, "upsert_stage", crash_on_page_text)
        with pytest.raises(RuntimeError, match="injected crash"):
            run_incremental(spark, corpus_df(spark, 60), root, run_id="crashed")

    out = run_incremental(spark, corpus_df(spark, 60), root, run_id="retry")
    exp = oracle.extract_corpus(generate_corpus(60))
    got = {r["url"]: r["extracted_text"] for r in out["doc_text"].collect()}
    assert all(got.get(u, "") == v["text"] for u, v in exp.items())
    for stage in ("pages", "page_text", "doc_text", "chunks"):
        info = stage_store.marker_info(root, stage)
        assert [u["run_id"] for u in info.get("upserts", [])] == ["retry"], stage
    appends = stage_store.marker_info(root, "metrics")["appends"]
    assert [a["run_id"] for a in appends] == ["retry"]


@pytest.mark.parametrize("crashed", ["metrics", "page_text"])
def test_incremental_after_pages_only_commits_text_stages(
    spark, work_dir, crash_before_commit, crashed
):
    """A full run that crashed after its pages commit leaves no text
    stage to merge into: the increment first finishes that run from
    the committed pages, so metrics keeps the base run's extract rows,
    then upserts its delta host-scoped."""
    root = f"{work_dir}/fallback-{crashed}"
    with crash_before_commit(crashed):
        run_pipeline(spark, corpus_df(spark, 30), root, resume=False, run_id="base")
    assert not stage_store.is_committed(root, crashed)

    out = run_incremental(spark, corpus_df(spark, 36), root, run_id="incr")

    exp = oracle.extract_corpus(generate_corpus(36))
    got = {r["url"]: r["extracted_text"] for r in out["doc_text"].collect()}
    assert got == {u: v["text"] for u, v in exp.items() if v["text"]}
    metrics = out["metrics"].collect()
    assert {r["stage"] for r in metrics} == {"extract", "extract_increment"}
    base = [r for r in metrics if r["stage"] == "extract"]
    assert sum(r["urls_in"] for r in base) >= 30
    for stage in ("pages", "page_text", "doc_text", "chunks"):
        assert "bucket" not in stage_store.marker_info(root, stage), stage


def test_incremental_legacy_stage_without_content_hash(spark, work_dir):
    """A pages stage committed before content_hash existed upserts
    cleanly (unionByName with allowMissingColumns) and reads the hash as
    null, so every url counts as changed once: a url whose payload
    changed since the legacy commit gets its new text, and afterwards
    every page carries its hash."""
    import os

    from pyspark.sql import functions as F

    root = f"{work_dir}/legacy"
    run_pipeline(spark, corpus_df(spark, 40), root, resume=False, run_id="base")

    # rewrite the committed pages snapshot without the content_hash
    # column, simulating a pre-content_hash stage dir
    path = f"{root}/pages"
    legacy = spark.read.parquet(path).drop("content_hash")
    tmp = f"{path}.legacy"
    legacy.write.mode("overwrite").parquet(tmp)
    marker = stage_store.marker_info(root, "pages")
    import json as _json
    import shutil as _shutil

    with open(os.path.join(tmp, stage_store.MARKER), "w", encoding="utf-8") as fh:
        _json.dump(marker, fh)
    _shutil.rmtree(path)
    os.rename(tmp, path)
    spark.catalog.refreshByPath(path)

    # one base url's payload changed since the legacy commit
    rows = generate_corpus(50)
    target, donor = rows[1], rows[2]
    old_text = oracle.extract_corpus(rows)[target["url"]]["text"]
    target["html"] = donor["html"]
    exp = oracle.extract_corpus(rows)
    assert exp[target["url"]]["text"] != old_text
    inp = corpus_df(spark, 50).withColumn(
        "html",
        F.when(F.col("url") == target["url"], F.lit(donor["html"])).otherwise(F.col("html")),
    )

    out = run_incremental(spark, inp, root, run_id="incr")
    assert out["pages"].select("url").distinct().count() == 50
    # the merge must not have thrown, and every row now carries a hash
    assert out["pages"].filter(F.col("content_hash").isNull()).count() == 0

    got = {r["url"]: r["extracted_text"] for r in out["doc_text"].collect()}
    assert got.get(target["url"], "") == exp[target["url"]]["text"]
    assert all(got.get(u, "") == v["text"] for u, v in exp.items())


def test_pyfiles_package_importable(tmp_path):
    import subprocess
    import sys

    from tools.make_pyfiles import build

    zip_path = build(str(tmp_path / "pkg.zip"))
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import pdf_extraction_spark.operators.layout as L; "
        "import pdf_extraction_spark.plans.pipeline as P; "
        "print('ok', L.__name__, P.__name__)"
    )
    res = subprocess.run(
        [sys.executable, "-c", code, zip_path],
        capture_output=True, text=True, cwd=str(tmp_path),
    )
    assert res.returncode == 0 and "ok" in res.stdout


def test_spark_submit_pyfiles_e2e(tmp_path):
    """The north-rule shipping path, actually exercised: the pipeline
    job must RUN under ``spark-submit --py-files <zip>`` (north_rule:
    "ships via spark-submit --py-files"), not merely import from the
    zip.  The child runs from a neutral cwd with no PYTHONPATH, so
    ``import pdf_extraction_spark`` inside jobs/run_extraction.py can
    only be satisfied by the --py-files artifact — the exact contract a
    real cluster submit relies on.  Input is a 40-doc corpus parquet
    written with pyarrow (no second local session needed); asserts the
    job exits 0, reports non-empty stage counts, and leaves committed
    stage markers + byte-identical doc text behind."""
    import json
    import os
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark

    from pdf_extraction_spark.sources.corpus import generate_row
    from tools.make_pyfiles import build

    n_docs = 40
    rows = [generate_row(i) for i in range(n_docs)]
    table = pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows],
                                pa.timestamp("us")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )
    inp = tmp_path / "corpus.parquet"
    pq.write_table(table, inp)

    zip_path = build(str(tmp_path / "pkg.zip"))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark_submit = os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )
    out_root = tmp_path / "stages"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    res = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--driver-memory", "4g",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(repo, "jobs", "run_extraction.py"),
            "--input", str(inp),
            "--out", str(out_root),
        ],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=420,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    counts = {}
    for line in res.stdout.splitlines():
        name, _, val = line.partition(": ")
        head = val.split()[0] if val.split() else ""
        if name in ("pages", "doc_text", "chunks") and head.isdigit():
            counts[name] = int(head)
    assert counts.get("pages", 0) > 0, res.stdout
    assert counts.get("doc_text", 0) > 0
    assert counts.get("chunks", 0) > 0

    # committed markers landed on disk for every stage
    from pdf_extraction_spark.plans.stage_store import MARKER

    for stage in ("pages", "page_text", "doc_text", "chunks", "metrics"):
        marker = out_root / stage / MARKER
        assert marker.exists(), f"stage {stage} not committed"
        assert json.loads(marker.read_text())["run_id"]

    # the submitted job's extracted text is byte-identical to the oracle
    from pdf_extraction_spark import oracle
    from pdf_extraction_spark.sources.corpus import generate_corpus

    exp = oracle.extract_corpus(generate_corpus(n_docs))
    got_tbl = pq.read_table(out_root / "doc_text",
                            columns=["url", "extracted_text"])
    got = dict(zip(got_tbl.column("url").to_pylist(),
                   got_tbl.column("extracted_text").to_pylist()))
    assert all(got.get(u, "") == v["text"] for u, v in exp.items())

    # second submit, FRESH JVM, --vectors: the committed markers must be
    # honored across processes (resume recomputes zero stages — the
    # pages marker keeps run 1's run_id) and the vector build's
    # typed_chunks/chunk_vectors commits must work on the vanilla
    # submit session, not just the tuned session.py one
    run1_id = json.loads((out_root / "pages" / MARKER).read_text())["run_id"]
    res2 = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--driver-memory", "4g",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(repo, "jobs", "run_extraction.py"),
            "--input", str(inp),
            "--out", str(out_root),
            "--vectors",
        ],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=420,
    )
    assert res2.returncode == 0, res2.stderr[-4000:]
    assert json.loads(
        (out_root / "pages" / MARKER).read_text()
    )["run_id"] == run1_id, "resume under spark-submit recomputed 'pages'"
    for stage in ("typed_chunks", "chunk_vectors"):
        marker = out_root / stage / MARKER
        assert marker.exists(), f"vector stage {stage} not committed"
        assert "bucket" not in json.loads(marker.read_text())
    vec_counts = {}
    for line in res2.stdout.splitlines():
        name, _, val = line.partition(": ")
        head = val.split()[0] if val.split() else ""
        if name in ("typed_chunks", "chunk_vectors") and head.isdigit():
            vec_counts[name] = int(head)
    assert vec_counts.get("typed_chunks", 0) > 0, res2.stdout
    assert vec_counts.get("chunk_vectors", 0) > 0
