"""Operator-level tests: multimodal plumbing, streaming ingest,
retrieval semantics vs the pure-Python spec functions."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.functions import text_pure
from pdf_extraction_spark.operators import multimodal, retrieval
from pdf_extraction_spark.schemas import PAGES, TYPED_CHUNKS
from pdf_extraction_spark.streaming import ingest


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (0, b"\x89PNG" + b"x" * 700),
        (1, b"GIF89a" + b"y" * 100),
        (2, b""),
        (3, None),
        (4, b"z" * 2048),
    ]
    return spark.createDataFrame(rows, "media_id long, data binary")


def test_media_metadata(media_df):
    rows = {r["media_id"]: r for r in multimodal.media_metadata(media_df).collect()}
    assert len(rows) == 5
    assert rows[0]["n_bytes"] == 704 and rows[0]["format"] in ("png", "jpeg", "webp")
    assert 64 <= rows[0]["width"] < 256 and 64 <= rows[0]["height"] < 256
    assert rows[2]["format"] is None and rows[2]["sha256"] is None  # decoder error path
    assert rows[3]["n_bytes"] == 0
    # determinism
    again = {r["media_id"]: r for r in multimodal.media_metadata(media_df).collect()}
    assert {k: tuple(v) for k, v in rows.items()} == {k: tuple(v) for k, v in again.items()}


def test_frame_sample_shape(media_df):
    frames = multimodal.frame_sample(media_df, every_n=2).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id[4]) == 4  # 2048/256 = 8 slices, every 2nd -> 4
    assert all(len(r["frame"]) <= 256 for r in frames)
    assert 2 not in by_id and 3 not in by_id  # empty payloads yield no frames


def test_feature_extract_unit_norm(media_df):
    import math

    feats = multimodal.feature_extract(media_df, dim=16).collect()
    assert all(len(r["feature"]) == 16 for r in feats)
    for r in feats:
        n = math.sqrt(sum(x * x for x in r["feature"]))
        assert abs(n - 1.0) < 1e-5


def test_row_kernel_streams_batch_by_batch():
    """The row kernel builds one output batch per input batch and
    yields it before pulling the next, so a task holds at most one
    batch of rows however large its partition is."""
    import pyarrow as pa

    from pdf_extraction_spark.operators.rowmap import arrow_rows

    events = []

    def batches():
        for i in range(3):
            events.append(("pull", i))
            yield pa.RecordBatch.from_pylist([{"x": 2 * i}, {"x": 2 * i + 1}])

    schema = pa.schema([("x", pa.int64()), ("y", pa.int64())])
    out = []
    for rb in arrow_rows(batches(), lambda: lambda x: [{"x": x, "y": 10 * x}], schema):
        events.append(("yield", len(out)))
        out.append(rb.to_pylist())
    assert out == [[{"x": x, "y": 10 * x} for x in (2 * i, 2 * i + 1)] for i in range(3)]
    assert events == [(e, i) for i in range(3) for e in ("pull", "yield")]


def test_ocr_stage_decodes_marker_payloads(spark):
    """OCR text is the payload after the ``OCRTEXT:`` marker, decoded
    as UTF-8 with replacement and stripped by Python's ``str.strip``
    (Unicode whitespace too); a null or marker-less payload gives ""."""
    from pdf_extraction_spark.operators.ocr import ocr_stage

    payloads = [None, b"no marker", b"OCRTEXT:  caf\xc3\xa9 \n",
                b"OCRTEXT:\xff\xfeok", "OCRTEXT:\u3000x\x1c".encode()]
    rows = [(f"https://h.example/doc{i}", i + 1, True, p) for i, p in enumerate(payloads)]
    rows.append(("https://h.example/unflagged", 1, False, b"OCRTEXT:skipped"))
    pages = spark.createDataFrame(
        rows, "url string, page_no int, ocr_triggered boolean, ocr_payload binary"
    )
    got = {(r.url, r.page_no): r.ocr_text for r in ocr_stage(pages).collect()}
    assert got == {
        (url, page_no): p[8:].decode("utf-8", "replace").strip()
        if p is not None and p.startswith(b"OCRTEXT:") else ""
        for url, page_no, _, p in rows[:-1]
    }
    assert [got[(f"https://h.example/doc{i}", i + 1)] for i in (2, 3, 4)] == [
        "café", "\ufffd\ufffdok", "x"]


def test_python_operators_plan_one_arrow_node(spark, media_df):
    """OCR and the media operators each plan one MapInArrow node (the
    row kernel) and no pandas node."""
    from pdf_extraction_spark.operators.ocr import ocr_stage

    pages = spark.createDataFrame(
        [("https://h.example/doc0", 1, True, b"OCRTEXT:x", 10.0, 10.0, [])],
        "url string, page_no int, ocr_triggered boolean, ocr_payload binary, "
        "page_w double, page_h double, blocks array<struct<bbox:struct<"
        "left:double,right:double,top:double,bottom:double>>>",
    )
    frames = [ocr_stage(pages), multimodal.render_pages(pages)] + [
        op(media_df) for op in (multimodal.media_metadata, multimodal.frame_sample,
                                multimodal.resize_images, multimodal.photo_likeness,
                                multimodal.feature_extract)
    ]
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan, plan


def _chunker_frames(spark, text):
    """chunk_stage over one doc and typed_chunk_stage over the same text
    as that doc's one page (no tables or figures)."""
    from pdf_extraction_spark.operators.chunk import chunk_stage, typed_chunk_stage

    url = "https://h.example/doc0"
    docs = spark.createDataFrame([(url, text)], "url string, extracted_text string")
    page_text = spark.createDataFrame(
        [(url, 1, text, False)],
        "url string, page_no int, page_text string, ocr_triggered boolean",
    )
    return url, chunk_stage(docs), typed_chunk_stage(page_text, spark.createDataFrame([], PAGES))


def test_chunkers_plan_one_arrow_node(spark):
    """chunk_stage and typed_chunk_stage each plan one MapInArrow node
    (the row kernel) and no pandas UDF node."""
    _, chunks, typed = _chunker_frames(spark, "alpha. beta\n\ngamma")
    for df in (chunks, typed):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1, plan
        assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, plan


def test_chunkers_slice_multibyte_text_by_code_point(spark):
    """Chunks of a text mixing Hangul, astral-plane emoji and combining
    marks are its code-point slices at ``chunk_spans``' spans, in both
    chunkers (the span index is the page_text chunk_id)."""
    parts = ["한국어 문장입니다", "🙂🚀 emoji 𝔘𝔫𝔦", "e\u0301te\u0301 cafe\u0301",
             "plain words here"]
    seps = ["\n\n", "\n", ". ", " "]
    text = "".join(parts[i % 4] + seps[i % 3] for i in range(120))
    assert len(text) > 1500 and len(text.encode()) > len(text)
    spans = text_pure.chunk_spans(text)
    assert len(spans) > 3

    url, chunks, typed = _chunker_frames(spark, text)
    got = sorted((r.url, r.span_start, r.span_end, r.chunk_text) for r in chunks.collect())
    assert got == [(url, s, e, text[s:e]) for s, e in spans]
    got_typed = sorted(
        (r.chunk_id, r.chunk_text)
        for r in typed.filter("source_type = 'page_text'").collect()
    )
    assert got_typed == [(i, text[s:e]) for i, (s, e) in enumerate(spans)]


def test_streaming_available_now_dedup(spark, work_dir):
    from pdf_extraction_spark.sources.corpus import corpus_df

    inp = f"{work_dir}/stream_in"
    out = f"{work_dir}/stream_out"
    ck = f"{work_dir}/stream_ck"
    base = corpus_df(spark, 30)
    base.write.mode("overwrite").parquet(inp)
    # duplicate urls arrive in a later file
    base.limit(10).write.mode("append").parquet(inp)

    q = ingest.run_available_now(spark, inp, out, ck)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 30  # dups dropped
    assert got.select("url").distinct().count() == 30

    # incremental restart: new files only, already-seen urls skipped
    base.limit(5).write.mode("append").parquet(inp)  # all dups
    q2 = ingest.run_available_now(spark, inp, out, ck)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 30


def test_bm25_matches_pure_spec(spark):
    texts = [
        (0, "spark join table spark"),
        (1, "table scan filter"),
        (2, "join join spark window"),
        (3, "other words entirely"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r["doc_id"]: r["keyword_score"]
        for r in retrieval.bm25_scores(
            retrieval.with_tokens(df), ["spark", "join"]
        ).collect()
    }
    corpus = [t.split() for _, t in texts]
    n = len(corpus)
    avgdl = sum(map(len, corpus)) / n
    for doc_id, toks in enumerate(corpus):
        exp = sum(
            text_pure.bm25_term_score(
                toks.count(term),
                sum(1 for c in corpus if term in c),
                n, len(toks), avgdl,
            )
            for term in ["spark", "join"]
        )
        if exp == 0:
            assert doc_id not in got
        else:
            assert got[doc_id] == pytest.approx(exp, rel=1e-12)


def test_bm25_trailing_newline_is_not_a_term_match(spark):
    """Split-on-space tokens of "bar foo\\n" are "bar" and "foo\\n": a
    doc whose only "foo" carries a final newline has no query term."""
    df = spark.createDataFrame(
        [(0, "bar foo\n"), (1, "foo bar")], "doc_id long, text string"
    )
    got = {r["doc_id"] for r in retrieval.bm25_scores(df, ["foo"]).collect()}
    assert got == {1}


def test_minmax_normalize_constant_guard(spark):
    df = spark.createDataFrame([(i, 7.0) for i in range(4)], "id long, s double")
    out = retrieval.minmax_normalize_many(df, {"s": "n"}).collect()
    assert all(r["n"] == 0.5 for r in out)  # reference: constant -> 0.5


def test_streaming_stateful_sessionize(spark, work_dir):
    """Custom stateful operator (applyInPandasWithState): per-host
    sessions close after a 30-min gap; late watermark advance from a
    second batch flushes the closed session."""
    from datetime import datetime, timedelta, timezone

    inp = f"{work_dir}/sess_in"
    t0 = datetime(2024, 3, 1, tzinfo=timezone.utc)
    rows1 = [
        (f"https://a.example/d{i}", t0 + timedelta(minutes=5 * i)) for i in range(3)
    ] + [
        ("https://b.example/d0", t0),
        # path-less url: its host must still parse as b.example
        ("http://b.example", t0 + timedelta(minutes=1)),
    ]
    # second batch: >30min gap on host a (new session) + a far-future
    # row that advances the watermark past every earlier session
    rows2 = [
        ("https://a.example/late", t0 + timedelta(hours=2)),
        ("https://c.example/probe", t0 + timedelta(days=2)),
    ]
    import pandas as pd

    spark.createDataFrame(
        [(u, ts, None, None, None) for u, ts in rows1],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).write.mode("overwrite").parquet(inp)

    stream = ingest.stream_source(spark, inp)
    out_path, ck = f"{work_dir}/sess_out", f"{work_dir}/sess_ck"
    q = ingest.sessionize_stream(stream).writeStream.outputMode("append").format(
        "parquet"
    ).option("path", out_path).option("checkpointLocation", ck).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)

    spark.createDataFrame(
        [(u, ts, None, None, None) for u, ts in rows2],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).write.mode("append").parquet(inp)
    q2 = ingest.sessionize_stream(ingest.stream_source(spark, inp)).writeStream.outputMode(
        "append"
    ).format("parquet").option("path", out_path).option(
        "checkpointLocation", ck
    ).trigger(availableNow=True).start()
    q2.awaitTermination(120)

    got = spark.read.parquet(out_path).collect()
    by_host = {}
    for r in got:
        by_host.setdefault(r.host, []).append(r)
    # host a's first session (3 docs over 10 min) closed by the gap
    a0 = [r for r in by_host.get("a.example", []) if r.session_id == 0]
    assert len(a0) == 1 and a0[0].n_docs == 3
    # host b's 2-doc session closed via watermark timeout
    assert any(r.n_docs == 2 for r in by_host.get("b.example", []))


def test_streaming_extract_incremental(spark, work_dir):
    """The extraction dataflow bound to a file stream: two AvailableNow
    drains; the second processes only the new file, output equals the
    batch extraction of the full input."""
    from pdf_extraction_spark.operators.extract import extract_stage
    from pdf_extraction_spark.sources.corpus import corpus_df

    inp, out, ck = (f"{work_dir}/sx_in", f"{work_dir}/sx_out", f"{work_dir}/sx_ck")
    first = corpus_df(spark, 20)
    first.write.mode("overwrite").parquet(inp)
    q = ingest.stream_extract(spark, inp, out, ck)
    q.awaitTermination(180)
    n1 = spark.read.parquet(out).count()

    import pyspark.sql.functions as F

    doc_no = F.regexp_extract("url", r"doc(\d+)$", 1).cast("int")
    second = corpus_df(spark, 30).filter(doc_no >= 20)
    second.write.mode("append").parquet(inp)
    q2 = ingest.stream_extract(spark, inp, out, ck)
    q2.awaitTermination(180)

    got = spark.read.parquet(out)
    assert got.count() > n1
    batch = extract_stage(spark.read.parquet(inp))
    assert got.count() == batch.count()
    assert got.select("url").distinct().count() == 30


def test_streaming_vector_build(spark, work_dir):
    """embed_stage + LSH bucket bound to a chunk-file stream: two
    AvailableNow drains; output vectors are bit-identical to the batch
    embedding of the same chunks."""
    import pyspark.sql.functions as F

    from pdf_extraction_spark.operators.embed import EMBED_DIM, embed_stage
    from pdf_extraction_spark.operators.similarity import bucket_col

    inp, out, ck = (f"{work_dir}/sv_in", f"{work_dir}/sv_out", f"{work_dir}/sv_ck")
    rows1 = [
        (f"https://h{i % 3}.example/doc{i:06d}", 1, i, "page_text",
         f"chunk text number {i} alpha beta")
        for i in range(40)
    ]
    df1 = spark.createDataFrame(rows1, TYPED_CHUNKS)
    df1.write.mode("overwrite").parquet(inp)
    q = ingest.stream_vector_build(spark, inp, out, ck)
    q.awaitTermination(180)
    n1 = spark.read.parquet(out).count()
    assert n1 == 40

    rows2 = [
        (f"https://h9.example/doc{i:06d}", 2, i, "table",
         f"late chunk {i} gamma delta")
        for i in range(40, 55)
    ]
    spark.createDataFrame(rows2, TYPED_CHUNKS).write.mode(
        "append"
    ).parquet(inp)
    q2 = ingest.stream_vector_build(spark, inp, out, ck)
    q2.awaitTermination(180)

    got = spark.read.parquet(out)
    assert got.count() == 55
    # bit-identical to the batch dataflow over the same input
    batch = embed_stage(spark.read.parquet(inp)).withColumn(
        "bucket", bucket_col("embedding", dim=EMBED_DIM)
    )
    key = ["url", "page_no", "chunk_id", "source_type"]
    j = got.alias("s").join(batch.alias("b"), key)
    n_same = j.filter(
        (F.col("s.bucket") == F.col("b.bucket"))
        & (F.col("s.embedding") == F.col("b.embedding"))
    ).count()
    assert n_same == 55
