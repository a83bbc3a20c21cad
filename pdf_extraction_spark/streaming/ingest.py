"""Structured Streaming extension: incremental ingestion of new
corpus partitions.

The reference is batch-only (SURVEY.md §2.8); its skip-if-exists
re-runs map to incremental batch.  This module is the idiomatic Spark
extension: a file-source stream over the input table directory with
`Trigger.AvailableNow`-style draining, url dedup across batches, and a
watermarked per-host crawl sessionizer — the shapes a continuous
Common-Crawl ingest needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.extract import host_col
from ..schemas import INPUT, TYPED_CHUNKS


def stream_source(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(INPUT)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def dedup_new_urls(stream: DataFrame) -> DataFrame:
    """Exactly-once per url across the stream (state-backed)."""
    return stream.withWatermark("warc_ts", "1 hour").dropDuplicates(["url"])


def stream_extract(
    spark: SparkSession, in_path: str, out_path: str, checkpoint: str
):
    """Continuous extraction: the SAME extract_stage dataflow (format
    sniff, size-gated page split, vectorized layout UDF) bound to a
    file stream — new corpus files become page rows incrementally,
    exactly-once via the checkpoint.  Returns the started query."""
    from ..operators.extract import extract_stage

    pages = extract_stage(stream_source(spark, in_path))
    return (
        pages.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


SESSION_GAP_SECS = 1800
SESSION_SCHEMA = (
    "host string, session_id long, session_start timestamp, "
    "session_end timestamp, n_docs long"
)
_STATE_SCHEMA = "last_ts long, session_id long, start_ts long, n_docs long"


def sessionize_stream(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-host
    crawl sessions closed after a 30-min ingest gap (the streaming twin
    of the batch ``sessionize`` query).  State per host = (last event
    ts, open session id, session start, doc count); emits one row per
    CLOSED session; the watermark bounds state and closes sessions via
    timeout.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = SESSION_GAP_SECS * 1_000_000

    def fn(key, pdfs, state: GroupState):
        (host,) = key
        out = []

        def close(sid, start_us, last_us, n):
            out.append(
                {
                    "host": host,
                    "session_id": int(sid),
                    "session_start": pd.Timestamp(start_us, unit="us"),
                    "session_end": pd.Timestamp(last_us, unit="us"),
                    "n_docs": int(n),
                }
            )

        if state.hasTimedOut:
            last_ts, sid, start_ts, n = state.get
            close(sid, start_ts, last_ts, n)
            state.remove()
        else:
            ts_us = []
            for pdf in pdfs:
                ts_us.extend(
                    int(t.value // 1000) for t in pd.to_datetime(pdf["warc_ts"])
                )
            ts_us.sort()
            if state.exists:
                last_ts, sid, start_ts, n = state.get
            else:
                last_ts, sid, start_ts, n = None, 0, None, 0
            for t in ts_us:
                if last_ts is not None and t - last_ts > gap_us:
                    close(sid, start_ts, last_ts, n)
                    sid, start_ts, n = sid + 1, t, 0
                if start_ts is None:
                    start_ts = t
                n += 1
                last_ts = t
            state.update((last_ts, sid, start_ts, n))
            state.setTimeoutTimestamp(last_ts // 1000 + SESSION_GAP_SECS * 1000)
        yield pd.DataFrame(
            out,
            columns=["host", "session_id", "session_start", "session_end", "n_docs"],
        )

    return (
        stream.select(host_col().alias("host"), "warc_ts")
        .withWatermark("warc_ts", "1 hour")
        .groupBy("host")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_vector_build(
    spark: SparkSession, chunks_path: str, out_path: str, checkpoint: str,
):
    """Continuous vector-DB build: the SAME vector_rows expression
    (deterministic hash embedding, pure Catalyst, + LSH bucket) bound to
    a file stream over the committed typed-chunks table — new chunk
    files become (ids, embedding, bucket) rows incrementally,
    exactly-once via the checkpoint.  The streaming twin of
    plans.pipeline.run_vector_build's chunk_vectors stage."""
    from ..operators.embed import vector_rows

    chunks = (
        spark.readStream.schema(TYPED_CHUNKS)
        .option("maxFilesPerTrigger", 16)
        .parquet(chunks_path)
    )
    return (
        vector_rows(chunks).writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_available_now(
    spark: SparkSession, in_path: str, out_path: str, checkpoint: str
):
    """Drain everything currently available into the committed corpus
    table, dedup'd by url; returns the query (caller awaits)."""
    stream = dedup_new_urls(stream_source(spark, in_path))
    return (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
