"""Seeded benchmark inputs and their expected outputs, cached on disk.

Every input is a pure function of ``(seed, size)`` and is built once per
checkout under the work directory, so a run that finds its inputs
cached pays only for loading them.  Each entry's ``meta.json`` records
the seconds its build spent generating and in the oracle; a run reports
those apart from set-up time, and only on the run that built it.

Documents come from ``sources.corpus.generate_row`` (the generator that
``write_corpus`` distributes) and are written in ``write_corpus``'s
layout: rows in doc-id order, split into 128 contiguous part files.
Expected document text comes from ``oracle.extract_corpus``.  The
oracle's boilerplate patterns are per host (``host_of`` is
``doc_id % 8``), so it runs one host per worker process and the union
is the corpus-wide result.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42          # the generator's default seed
N_HOSTS = 8             # sources.corpus.N_HOSTS
CORPUS_FILES = 128      # write_corpus's file count at <= 16 cores
EDGE_IDS = 16           # ids below this are the generator's edge-case slots
CORPUS_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])


def doc_id(row: dict) -> int:
    return int(row["url"].rsplit("/doc", 1)[1])


def _host_job(specs: list[tuple[int, int]]) -> tuple[list[dict], dict[str, str], float, float]:
    """Generate one host's documents and run the oracle over them."""
    from pdf_extraction_spark import oracle
    from pdf_extraction_spark.sources.corpus import generate_row

    t0 = time.perf_counter()
    rows = [generate_row(i, seed) for i, seed in specs]
    t1 = time.perf_counter()
    expected = oracle.extract_corpus(rows)
    t2 = time.perf_counter()
    return rows, {url: v["text"] for url, v in expected.items()}, t1 - t0, t2 - t1


def generate(specs: list[tuple[int, int]], workers: int) -> tuple[list[dict], dict[str, str], dict]:
    """Rows (in doc-id order) and expected text for ``(doc_id, seed)``
    specs, plus the worker seconds spent generating and in the oracle."""
    by_host: dict[int, list[tuple[int, int]]] = {}
    for spec in sorted(specs):
        by_host.setdefault(spec[0] % N_HOSTS, []).append(spec)
    jobs = list(by_host.values())
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(min(workers, len(jobs)))
    try:
        parts = pool.map(_host_job, jobs)
        pool.close()
    finally:
        pool.terminate()
        pool.join()
    rows: list[dict] = []
    expected: dict[str, str] = {}
    timings = {"gen_s": 0.0, "oracle_s": 0.0}
    for host_rows, host_expected, gen_s, oracle_s in parts:
        rows.extend(host_rows)
        expected.update(host_expected)
        timings["gen_s"] += gen_s
        timings["oracle_s"] += oracle_s
    rows.sort(key=doc_id)
    return rows, expected, timings


def write_corpus_files(rows: list[dict], out_dir: str) -> int:
    """Write rows as ``write_corpus`` lays them out; returns payload bytes."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=CORPUS_SCHEMA)
    n_files = min(CORPUS_FILES, len(rows))
    for i in range(n_files):
        lo, hi = len(rows) * i // n_files, len(rows) * (i + 1) // n_files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return sum(len(r["html"] or b"") for r in rows)


def dump_json(obj, path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(obj, fh)


def load_json(path: str):
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


class Cache:
    """Directory entries built once: ``<root>/<key>/`` plus a done marker."""

    def __init__(self, root: str):
        self.root = root

    def get(self, key: str, build) -> tuple[str, bool]:
        """Return ``(path, built by this call)``.  ``build(tmp_dir)`` fills
        a temp dir that is renamed into place, so a killed build leaves
        no entry."""
        path = os.path.join(self.root, key)
        if os.path.exists(os.path.join(path, "_DONE")):
            return path, False
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        os.rename(tmp, path)
        return path, True


def corpus(cache: Cache, seed: int, n_docs: int, workers: int) -> tuple[str, bool]:
    """Seeded corpus: documents ``0..n_docs-1`` of generator seed ``seed``.

    Entry: ``corpus/`` parquet parts, ``expected.json`` (url -> text),
    ``meta.json`` (payload bytes, build timings)."""

    def build(tmp: str) -> None:
        rows, expected, timings = generate([(i, seed) for i in range(n_docs)], workers)
        t0 = time.perf_counter()
        payload = write_corpus_files(rows, os.path.join(tmp, "corpus"))
        timings["gen_s"] += time.perf_counter() - t0
        dump_json(expected, os.path.join(tmp, "expected.json"))
        dump_json({"seed": seed, "n_docs": n_docs, "payload_bytes": payload, "timings": timings},
                  os.path.join(tmp, "meta.json"))

    return cache.get(f"corpus-s{seed}-n{n_docs}", build)


def recrawl_plan(seed: int, n_docs: int) -> dict:
    """Which host the re-crawl touches, which docs change, which are new.

    At 8000 docs this is 100 new and 200 changed documents, all on one
    seed-chosen host.  The generator's edge-case slots never change."""
    rnd = random.Random(f"recrawl:{seed}")
    host = rnd.randrange(N_HOSTS)
    n_new, n_changed = max(1, n_docs // 80), max(1, n_docs // 40)
    first_new = n_docs + (host - n_docs) % N_HOSTS
    pool = [i for i in range(EDGE_IDS, n_docs) if i % N_HOSTS == host]
    return {
        "host": host,
        "new": [first_new + N_HOSTS * j for j in range(n_new)],
        "changed": sorted(rnd.sample(pool, min(n_changed, len(pool)))),
        "change_seed": 1000 + seed,
    }


def recrawl(cache: Cache, base_dir: str, seed: int) -> tuple[str, bool]:
    """Re-crawl input over the corpus entry ``base_dir``.

    Entry: ``input/`` parquet parts (the base urls with the changed docs
    regenerated under another seed, plus the new docs), ``expected.json``
    for the whole updated corpus, ``meta.json`` (plan, delta size,
    build timings).  Only the touched host's oracle text can change, so
    only that host is regenerated and re-run through the oracle."""
    base = load_json(os.path.join(base_dir, "meta.json"))
    n_docs = base["n_docs"]
    plan = recrawl_plan(seed, n_docs)

    def build(tmp: str) -> None:
        changed, new = set(plan["changed"]), set(plan["new"])
        host_specs = [
            (i, plan["change_seed"] if i in changed else base["seed"])
            for i in range(n_docs) if i % N_HOSTS == plan["host"]
        ] + [(i, base["seed"]) for i in plan["new"]]
        host_rows, host_expected, timings = generate(host_specs, 1)
        t0 = time.perf_counter()
        fresh = {r["url"]: r for r in host_rows}
        base_rows = pq.read_table(os.path.join(base_dir, "corpus")).to_pylist()
        rows = [fresh.pop(r["url"], r) for r in base_rows]
        rows += sorted(fresh.values(), key=doc_id)
        write_corpus_files(rows, os.path.join(tmp, "input"))
        timings["gen_s"] += time.perf_counter() - t0
        host = f"//src{plan['host']}.example/"
        expected = {
            u: t for u, t in load_json(os.path.join(base_dir, "expected.json")).items()
            if host not in u
        }
        expected.update(host_expected)
        dump_json(expected, os.path.join(tmp, "expected.json"))
        delta = [r for r in host_rows if doc_id(r) in changed | new]
        dump_json(
            dict(plan, delta_urls=len(delta), timings=timings,
                 delta_payload_bytes=sum(len(r["html"] or b"") for r in delta)),
            os.path.join(tmp, "meta.json"),
        )

    return cache.get(f"recrawl-s{seed}-{os.path.basename(base_dir)}", build)


def tables(cache: Cache, scale: float, names: list[str]) -> tuple[str, bool]:
    """Query tables plus the DuckDB oracle result of each named query.
    The tables are fixed (generator seed ``BASE_SEED``): the run's seed
    does not vary them, so they and the oracle results are built once
    per checkout.

    Entry: ``tables/<name>.parquet``, ``expected/<query>.pkl`` (pandas
    frames as DuckDB returns them), ``meta.json`` (build timings)."""
    from querydata import write_tables

    def build(tmp: str) -> None:
        import duckdb
        import pandas as pd

        import __spark_entry__ as entry
        from tools.check_correctness import TABLES

        table_dir = os.path.join(tmp, "tables")
        t0 = time.perf_counter()
        write_tables(table_dir, BASE_SEED, scale)
        t1 = time.perf_counter()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')"
                )
            os.makedirs(os.path.join(tmp, "expected"))
            sql = entry.oracle_sql()
            for name in names:
                pd.to_pickle(con.execute(sql[name]).df(),
                             os.path.join(tmp, "expected", f"{name}.pkl"))
        finally:
            con.close()
        timings = {"gen_s": t1 - t0, "oracle_s": time.perf_counter() - t1}
        dump_json({"timings": timings}, os.path.join(tmp, "meta.json"))

    return cache.get(f"tables-sf{scale}", build)
