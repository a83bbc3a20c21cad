"""Cluster entry point: spark-submit --py-files pdf_extraction_spark.zip
jobs/run_extraction.py --input <parquet> --out <stage-root> [--incremental]

Runs the full extraction pipeline (SURVEY §7.1) against an input table
of (url, warc_ts, html, text, lang) rows and commits every stage to the
stage store (Iceberg tables in production).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--incremental", action="store_true",
                    help="extract only new/changed urls (MERGE upsert)")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--vectors", action="store_true",
                    help="also build typed chunks + hash embeddings")
    args = ap.parse_args()

    # on a cluster: spark-submit provides master/conf; local fallback here
    spark = SparkSession.builder.appName("pdf_extraction_spark").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from pdf_extraction_spark.plans.pipeline import STAGES, run_incremental, run_pipeline

    inp = spark.read.parquet(args.input)
    if args.incremental:
        out = run_incremental(spark, inp, args.out)
    else:
        out = run_pipeline(spark, inp, args.out, resume=not args.no_resume)
    for name in STAGES:
        print(f"{name}: {out[name].count()} rows")
    if args.vectors:
        from pdf_extraction_spark.plans.pipeline import run_vector_build

        vec = run_vector_build(spark, args.out)
        for name in ("typed_chunks", "chunk_vectors"):
            print(f"{name}: {vec[name].count()} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
