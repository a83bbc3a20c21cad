"""The benchmark's workloads.

A run is one fresh Spark session, as a batch job is.  Each workload
loads its inputs, then times its operation; passes after the measured
one, while the run's seconds last, are recorded as warm samples.  The
pipeline's measured pass is the session's first: it pays the first-use
costs (JIT, codegen, Python workers) that every batch job pays.  The
query round is measured after a warm-up round, as in a session that
serves queries.  Traced, the measured pass runs with spans on and the
per-layer metrics come from them; comparing it with an untraced run of
the same seed gives the tracing overhead.  Either way the run ends by
checking the outputs.  A raised call, a failed check or a failed Spark
task counts as a failed operation; none of them aborts the run.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks
import inputs
import procs

from pdf_extraction_spark.operators.boilerplate import boilerplate_patterns, strip_stage
from pdf_extraction_spark.operators.chunk import assemble_documents, chunk_stage, typed_chunk_stage
from pdf_extraction_spark.operators.embed import embed_stage
from pdf_extraction_spark.operators.extract import extract_stage
from pdf_extraction_spark.operators.ocr import ocr_stage
from pdf_extraction_spark.plans import stage_store
from pdf_extraction_spark.plans.pipeline import run_incremental, run_pipeline, run_vector_build

QUERY_FAMILIES = {
    "relational": ["pricing_summary", "shipping_priority", "sessionize"],
    "retrieval": ["bm25_documents", "hybrid_retrieval", "cosine_topk", "ann_lsh_topk"],
    "dedup": ["dedup_exact", "minhash_signatures", "lsh_pairs", "simhash", "quality_score"],
    "spatial": ["spatial_title_join", "spatial_containment"],
}
QUERY_NAMES = [q for family in QUERY_FAMILIES.values() for q in family]
COMMIT_STAGES = ["pages", "metrics", "page_text", "doc_text", "chunks", "typed_chunks", "chunk_vectors"]
UPSERT_STAGES = ["pages", "page_text", "doc_text", "chunks"]
# the timed operation whose first sample gives op_cpu_s, per workload kind
PRIMARY = {"pipeline": "pipeline", "queries": "query_suite"}


def per_layer_units() -> dict[str, tuple[str, str]]:
    """Every per-layer metric -> (unit, better direction).  A workload
    that leaves a layer idle reports it as 0."""
    s, count, ratio = ("s", "lower"), ("count", "lower"), ("ratio", "lower")
    units = {
        "pipeline_s": s, "pipeline_cpu_s": s, "vector_build_s": s, "stage_bytes_per_input_byte": ratio,
        "query_suite_s": s, "query_suite_cpu_s": s, **{f"query_{f}_s": s for f in QUERY_FAMILIES},
        "incremental_s": s, "incremental_write_amp": ratio, "error_rate": ratio,
        "peak_rss_mb": ("MB", "lower"),
        "extract.noop_s": s, "boilerplate.noop_s": s, "ocr.noop_s": s, "chunk.assemble_noop_s": s,
        "chunk.chunk_noop_s": s, "chunk.typed_noop_s": s, "chunk.input_partitions": ("count", "higher"),
        "embed.noop_s": s,
    }
    for st in COMMIT_STAGES:
        units.update({
            f"stage_store.commit_s.{st}": s, f"stage_store.rows.{st}": ("count", "higher"),
            f"stage_store.bytes.{st}": ("bytes", "lower"), f"stage_store.files.{st}": count,
            f"{st}.jobs": count, f"{st}.tasks": count,
        })
    for st in UPSERT_STAGES:
        units.update({f"stage_store.upsert_s.{st}": s, f"stage_store.upsert_bytes_written.{st}": ("bytes", "lower")})
    units.update({
        "stage_store.append_s.metrics": s,
        "pipeline.unattributed_s": s, "pipeline.unattributed_jobs": count,
        "incremental.unattributed_s": s, "incremental.unattributed_jobs": count,
        "incremental.detect_s": s, "incremental.delta_urls": ("count", "higher"),
        "incremental.recompute_urls": count, "incremental.recompute_ratio": ratio,
    })
    for q in QUERY_NAMES:
        units.update({f"query.{q}_s": s, f"query.{q}.tasks": count})
    units.update({"sources.corpus.gen_s": s, "oracle.expect_s": s})
    return units


def cpu_seconds() -> float:
    """User+system CPU seconds of this process and every descendant
    (the Spark JVM and its Python workers), reaped children included.
    Time the hypervisor steals from the host is not in it."""
    table = procs.stats()
    tree = procs.below(os.getpid(), table) | {os.getpid()}
    ticks = sum(sum(int(f) for f in table[p][11:15]) for p in tree if p in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def tree_bytes(root: str) -> dict[str, int]:
    """Relative path -> size of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def data_bytes(root: str) -> int:
    return sum(n for p, n in tree_bytes(root).items() if os.path.basename(p).startswith("part-"))


class Bench:
    """State of one run: session, tracer, counters and what it measured."""

    def __init__(self, spark, tracer, cache: inputs.Cache, work: str, *,
                 seed: int, seconds: float, trace: bool, workers: int):
        self.spark, self.tracer, self.cache, self.work = spark, tracer, cache, work
        self.seed, self.seconds, self.trace, self.workers = seed, seconds, trace, workers
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.gen: dict[str, float] = {}
        self.build_wall = 0.0
        self.first_timed: float | None = None
        self.samples: dict[str, list[float]] = {}
        self.layers: dict[str, float] = {}
        self.extra: dict = {}
        self.marks: dict[str, float] = {}
        self.last_cpu = 0.0

    def mark(self, phase: str) -> None:
        """Record when a phase of the run ended."""
        self.marks[phase] = time.perf_counter()

    def entry(self, get, *args) -> str:
        """Fetch a cached input; a build made by this run is timed apart
        from set-up."""
        t0 = time.perf_counter()
        path, built = get(*args)
        if built:
            self.build_wall += time.perf_counter() - t0
            for k, v in inputs.load_json(os.path.join(path, "meta.json"))["timings"].items():
                self.gen[k] = self.gen.get(k, 0.0) + v
        return path

    def op(self, name: str, fn) -> float | None:
        """One operation (under its own span while tracing): its seconds,
        or None if it raised.  Its CPU seconds are left in ``last_cpu``."""
        self.attempted += 1
        c0 = cpu_seconds()
        t0 = time.perf_counter()
        try:
            if self.tracer.active:
                with self.tracer.span(name, op=True) as rec:
                    try:
                        fn()
                    except Exception:
                        rec["error"] = True
                        raise
            else:
                fn()
        except Exception:
            self.failed += 1
            self.problems.append(f"{name} raised {traceback.format_exc().splitlines()[-1]}")
            return None
        wall = time.perf_counter() - t0
        self.last_cpu = cpu_seconds() - c0
        return wall

    def check(self, name: str, fn) -> None:
        """One output check; a raised call or any problem is a failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            problems = fn()
        except Exception:
            problems = [f"{name}: check raised {traceback.format_exc().splitlines()[-1]}"]
        self.extra.setdefault("check_s", {})[name] = time.perf_counter() - t0
        if problems:
            self.failed += 1
            self.problems += problems

    def sample(self, **values: float | None) -> None:
        """Record one timed iteration's values (skipped if any is None)."""
        if all(v is not None for v in values.values()):
            for k, v in values.items():
                self.samples.setdefault(k, []).append(v)

    def timed(self, iteration) -> None:
        """Run ``iteration`` once -- with spans on when the run is traced
        -- then, untraced, again while the next pass is expected to end
        within the run's seconds."""
        with self.tracer.phase("timed") as group:
            attempted, failed = self.attempted, self.failed
            self.first_timed = t0 = time.perf_counter()
            if self.trace:
                with self.tracer.patched():
                    iteration()
            else:
                while True:
                    t1 = time.perf_counter()
                    iteration()
                    now = time.perf_counter()
                    if now - t0 + (now - t1) > self.seconds:
                        break
        self.mark("timed")
        self.count_failed_tasks(self.tracer.group_stats(group), self.attempted - attempted,
                                self.failed - failed)

    def count_span_failures(self) -> None:
        """A traced operation whose Spark tasks failed counts as failed."""
        self.tracer.resolve()
        for s in self.tracer.spans:
            if s.get("op") and "error" not in s and (s["failed_tasks"] or s["failed_jobs"]):
                self.failed += 1
                self.problems.append(f"{s['name']}: Spark tasks failed")

    def count_failed_tasks(self, stats: dict, ops: int, raised: int) -> None:
        """Failed Spark tasks of an untraced phase count as failed
        operations (one per failed job, at least one), beyond those that
        already raised."""
        n = max(stats["failed_jobs"], 1 if stats["failed_tasks"] else 0)
        n = min(n, ops - raised)
        if n > 0:
            self.failed += n
            self.problems.append(f"{stats['failed_tasks']} Spark tasks failed in the timed phase")

    def store_metrics(self, run_ids: list[int], prefix: str | None) -> list[dict]:
        """Per-stage write metrics of the given traced run spans and, with
        a ``prefix``, the part of their time and jobs no stage-store write
        accounts for (``<prefix>.unattributed_*``; the tracer's own probes
        excluded).  Returns the write spans."""
        t = self.tracer
        writes = [s for s in t.spans if s["parent"] in run_ids and s["name"].startswith("stage_store.")]
        for s in writes:
            kind, stage, dur = s["name"].split(".", 1)[1], s["stage"], s["end"] - s["start"]
            if kind == "commit":
                self.layers[f"stage_store.commit_s.{stage}"] = dur
                for k in ("rows", "bytes", "files"):
                    self.layers[f"stage_store.{k}.{stage}"] = s[k]
                for k in ("jobs", "tasks"):
                    self.layers[f"{stage}.{k}"] = t.total(s["id"], k)
            elif kind == "upsert":
                self.layers[f"stage_store.upsert_s.{stage}"] = dur
                self.layers[f"stage_store.upsert_bytes_written.{stage}"] = s["bytes"]
            else:
                self.layers[f"stage_store.append_s.{stage}"] = dur
        if prefix is None:
            return writes
        unattributed_s = unattributed_jobs = 0
        for rid in run_ids:
            run = t.spans[rid]
            unattributed_s += run["end"] - run["start"]
            unattributed_jobs += run["jobs"]
            for child in t.children(rid):
                if child["name"].startswith("stage_store."):
                    unattributed_s -= child["end"] - child["start"] + child["probe_s"]
                elif not child["name"].startswith("probe."):
                    unattributed_jobs += t.total(child["id"], "jobs")
        self.layers[f"{prefix}.unattributed_s"] = unattributed_s
        self.layers[f"{prefix}.unattributed_jobs"] = unattributed_jobs
        return writes

    def top_spans(self, name: str) -> list[int]:
        return [s["id"] for s in self.tracer.spans if s["parent"] is None and s["name"] == name]


def pipeline(b: Bench, docs: int) -> None:
    """Committed pipeline over a fresh stage root.  Traced, it then
    measures the vector build, each layer alone into a noop sink, and an
    incremental re-crawl into a copy of the committed stages."""
    corpus_dir = b.entry(inputs.corpus, b.cache, b.seed, docs, b.workers)
    expected = inputs.load_json(os.path.join(corpus_dir, "expected.json"))
    payload = inputs.load_json(os.path.join(corpus_dir, "meta.json"))["payload_bytes"]
    inp = b.spark.read.parquet(os.path.join(corpus_dir, "corpus"))
    root = os.path.join(b.work, "pipeline")

    def build() -> None:
        shutil.rmtree(root, ignore_errors=True)
        wall = b.op("run_pipeline", lambda: run_pipeline(b.spark, inp, root, resume=False))
        b.sample(pipeline_s=wall, pipeline_cpu_s=b.last_cpu)

    b.mark("inputs")
    b.timed(build)
    b.check("doc_text", lambda: checks.check_doc_text(root, expected))
    b.check("chunks", lambda: checks.check_chunks(root, expected))
    b.extra["stage_bytes_per_input_byte"] = data_bytes(root) / payload
    if not b.trace or "pipeline_s" not in b.samples:
        return
    b.tracer.resolve()
    b.store_metrics(b.top_spans("run_pipeline"), "pipeline")
    b.layers.update(pipeline_s=b.samples["pipeline_s"][0], pipeline_cpu_s=b.samples["pipeline_cpu_s"][0])
    with b.tracer.patched():
        vector_s = b.op("run_vector_build", lambda: run_vector_build(b.spark, root))
    if vector_s is not None:
        b.tracer.resolve()
        b.store_metrics(b.top_spans("run_vector_build"), None)
        b.layers["vector_build_s"] = vector_s
        b.layers["stage_bytes_per_input_byte"] = data_bytes(root) / payload
        layer_noops(b, inp, root)
    incremental(b, corpus_dir, root)


def layer_noops(b: Bench, inp, root: str) -> None:
    """Each layer alone over the committed stages, into a noop sink."""
    pages = stage_store.read_stage(b.spark, root, "pages")
    page_text = stage_store.read_stage(b.spark, root, "page_text")
    doc_text = stage_store.read_stage(b.spark, root, "doc_text")
    typed = stage_store.read_stage(b.spark, root, "typed_chunks")
    frames = {
        "extract.noop_s": lambda: extract_stage(inp),
        "boilerplate.noop_s": lambda: strip_stage(pages, boilerplate_patterns(pages), join_strategy="auto"),
        "ocr.noop_s": lambda: ocr_stage(pages),
        "chunk.assemble_noop_s": lambda: assemble_documents(page_text),
        "chunk.chunk_noop_s": lambda: chunk_stage(doc_text),
        "chunk.typed_noop_s": lambda: typed_chunk_stage(page_text, pages),
        "embed.noop_s": lambda: embed_stage(typed),
    }
    for name, frame in frames.items():
        with b.tracer.span(name):
            t0 = time.perf_counter()
            noop(frame())
            b.layers[name] = time.perf_counter() - t0
    b.layers["chunk.input_partitions"] = doc_text.rdd.getNumPartitions()


def incremental(b: Bench, corpus_dir: str, base_root: str) -> None:
    """Incremental re-crawl (new and changed docs on one seed-chosen
    host) into a copy of the committed stages ``base_root``, copied
    before the traced call; its result is checked against the oracle."""
    recrawl_dir = b.entry(inputs.recrawl, b.cache, corpus_dir, b.seed)
    meta = inputs.load_json(os.path.join(recrawl_dir, "meta.json"))
    expected = inputs.load_json(os.path.join(recrawl_dir, "expected.json"))
    inp = b.spark.read.parquet(os.path.join(recrawl_dir, "input"))
    root = os.path.join(b.work, "incremental")
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(base_root, root)
    before = tree_bytes(root)
    with b.tracer.patched():
        wall = b.op("run_incremental", lambda: run_incremental(b.spark, inp, root))
    b.check("incremental doc_text", lambda: checks.check_doc_text(root, expected))
    b.extra["recrawl"] = {k: meta[k] for k in ("host", "delta_urls", "delta_payload_bytes")}
    if wall is None:
        return
    written = sum(sz for p, sz in tree_bytes(root).items() if before.get(p) != sz)
    b.tracer.resolve()
    run_ids = b.top_spans("run_incremental")
    writes = b.store_metrics(run_ids, "incremental")
    run_span = b.tracer.spans[run_ids[0]]
    metrics = pq.read_table(os.path.join(root, "metrics"), columns=["stage", "urls_in"])
    delta_urls = pc.sum(metrics.filter(pc.equal(metrics["stage"], "extract_increment"))["urls_in"]).as_py() or 0
    recompute = next((s.get("scope_keys", 0) for s in writes if s["stage"] == "doc_text"), 0)
    b.layers.update({
        "incremental_s": wall,
        "incremental_write_amp": written / meta["delta_payload_bytes"],
        "incremental.detect_s": min((s["start"] for s in writes), default=run_span["end"]) - run_span["start"],
        "incremental.delta_urls": delta_urls,
        "incremental.recompute_urls": recompute,
        "incremental.recompute_ratio": recompute / delta_urls if delta_urls else 0.0,
    })


def queries(b: Bench, scale: float) -> None:
    """Rounds of the 14 queries, each result collected and checked
    against its DuckDB oracle result."""
    import __spark_entry__ as entry

    path = b.entry(inputs.tables, b.cache, scale, QUERY_NAMES)
    tables_dir = os.path.join(path, "tables")
    fns = entry.queries()
    expected = {q: pd.read_pickle(os.path.join(path, "expected", f"{q}.pkl")) for q in QUERY_NAMES}

    def one_round() -> None:
        times, got = {}, {}
        c0 = cpu_seconds()
        for q in QUERY_NAMES:
            def run(q=q):
                got[q] = checks.Collected(fns[q](b.spark, tables_dir))
            times[q] = b.op(f"query.{q}", run)
            if times[q] is None:
                return
        cpu = cpu_seconds() - c0
        for q in QUERY_NAMES:
            b.check(q, lambda q=q: checks.check_query(q, got[q], expected[q]))
        b.sample(query_suite_s=sum(times.values()), query_suite_cpu_s=cpu,
                 **{f"query_{f}_s": sum(times[q] for q in qs) for f, qs in QUERY_FAMILIES.items()},
                 **{f"query.{q}_s": times[q] for q in QUERY_NAMES})

    b.mark("inputs")
    one_round()  # warm-up: fills the codegen cache, as a serving session's would be
    b.mark("warmup")
    b.samples.clear()
    b.timed(one_round)
    if not b.trace or "query_suite_s" not in b.samples:
        return
    b.tracer.resolve()
    b.layers.update({n: v[0] for n, v in b.samples.items()})
    for s in b.tracer.spans:
        if s["parent"] is None and s["name"].startswith("query."):
            b.layers[f"{s['name']}.tasks"] = s["tasks"]


KINDS = {"pipeline": pipeline, "queries": queries}
