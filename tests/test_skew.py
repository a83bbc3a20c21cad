"""Skew defense: a giant document's page units must scatter across
partitions (north_star salted repartitioning), while small documents
take the shuffle-free path."""

from datetime import datetime

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from pdf_extraction_spark import constants, oracle
from pdf_extraction_spark.constants import SPLIT_BYTES_THRESHOLD
from pdf_extraction_spark.functions.html_extract import extract_html
from pdf_extraction_spark.operators.extract import extract_stage
from pdf_extraction_spark.sources.corpus import corpus_df, generate_row, write_corpus


def test_giant_doc_pages_scatter(spark):
    giant = generate_row(7)  # the 60-page skew probe
    assert len(giant["html"]) > SPLIT_BYTES_THRESHOLD, "probe must exceed the gate"
    confs = {"spark.sql.shuffle.partitions": "16",
             "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        dist = (
            extract_stage(corpus_df(spark, 30))
            .filter(F.col("url") == giant["url"])
            .groupBy("partition_id")
            .count()
            .collect()
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert sum(r["count"] for r in dist) == 60
    assert len(dist) >= 8, f"giant doc stuck in {len(dist)} partitions"
    # no partition holds more than a quarter of the giant doc
    assert max(r["count"] for r in dist) <= 15


def test_small_docs_single_python_stage(spark, tmp_path):
    """The small-doc path must not shuffle payloads: its physical plan
    has no Exchange between the parquet scan and the layout UDF."""
    corpus_df(spark, 20).write.parquet(f"{tmp_path}/c")
    inp = spark.read.parquet(f"{tmp_path}/c")
    plan = extract_stage(inp)._jdf.queryExecution().executedPlan().toString()
    # exactly one exchange: the big-doc scatter; the whole-document
    # branch reads scan -> filter -> project -> coalesce -> union ->
    # mapInArrow with no shuffle, and both branches share the one
    # layout kernel
    assert plan.count("Exchange") == 1
    assert plan.count("MapInArrow") == 1


def test_whole_docs_one_task_per_core(spark, work_dir):
    """A corpus of many small files is laid out in at most one task per
    core: the scan splits (one per few files) are coalesced ahead of the
    layout kernel, so every whole document's rows carry one of at most
    defaultParallelism partition ids."""
    write_corpus(spark, f"{work_dir}/many_files", 200)
    cores = spark.sparkContext.defaultParallelism
    pids = (
        extract_stage(spark.read.parquet(f"{work_dir}/many_files"))
        .filter(F.col("url") != generate_row(7)["url"])
        .select("partition_id")
        .distinct()
        .count()
    )
    assert pids <= cores, f"{pids} layout tasks on {cores} cores"


def test_size_gate_is_invariant(spark, monkeypatch):
    """Where the size gate sits changes only the partitioning: every
    row but partition_id/wall_ms is the same whether all documents are
    split or none is, and an HTML payload led by a newline lays out
    like the oracle's on either side of the gate."""
    body = "".join(f"<p>paragraph {i} of the probe text</p>" for i in range(5000))
    giant = ("\n<div>" + body + "</div>").encode()
    twin = ("\n<div>" + body[:3000] + "</div>").encode()
    assert len(giant) > SPLIT_BYTES_THRESHOLD > len(twin)
    assert b"<html" not in giant[:512]
    base = corpus_df(spark, 30)
    probes = spark.createDataFrame(
        [(f"https://probe.example/{name}", datetime(2024, 1, 1), payload, None, None)
         for name, payload in (("giant", giant), ("twin", twin))],
        base.schema,
    )
    inp = base.unionByName(probes)

    def rows(threshold):
        monkeypatch.setattr(constants, "SPLIT_BYTES_THRESHOLD", threshold)
        return extract_stage(inp).drop("partition_id", "wall_ms").collect()

    all_split, none_split = rows(0), rows(1 << 40)
    assert sorted(map(str, all_split)) == sorted(map(str, none_split))
    for name, payload in (("giant", giant), ("twin", twin)):
        url = f"https://probe.example/{name}"
        got = sorted((r for r in all_split if r["url"] == url), key=lambda r: r["page_no"])
        want = ["\n".join(p["md_lines"]) for p in oracle.extract_document(payload)]
        assert want and [r["md"] for r in got] == want


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=400))
def test_html_extract_never_crashes(payload):
    page = extract_html(payload.encode("utf-8", errors="ignore"))
    assert page["page_no"] == 1
    for line in page["md_lines"]:
        assert "\n" not in line
        assert line == " ".join(line.split()) or line == "[IMAGE]"
