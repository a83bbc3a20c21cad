"""Benchmark harness.

Default mode (what the per-round driver runs): times the headline
queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the cores this process may run on)
plus the end-to-end extraction pipeline on a deterministic synthetic
corpus, and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
(extra keys: docs_per_sec, extract_docs, cpus, and driver_jvm_xx_args,
the driver JVM's -XX: flags, which name the JIT tier behind the numbers).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

# this checkout: the probe, the corpora and the stage root all use it,
# so a second checkout measures its own code and data
HERE = os.path.dirname(os.path.abspath(__file__))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# the cores this process may run on: the default --cpus
CORES = len(os.sched_getaffinity(0))
# the quiet-window bar: loadavg 5 on the 32-core host the gate was set
# on, scaled to this host's cores (a fixed 5 filters nothing on 4)
QUIET_BAR = max(1.0, 5.0 * CORES / 32)


def wait_quiet(max_wait: float = 600.0, bar: float = QUIET_BAR) -> tuple[float, float]:
    """PRE-REGISTERED QUIET-WINDOW GATE (round-3 verdict item 3,
    extended to the per-query suite in round 5): co-tenant bursts are
    the dominant noise on a shared host (pair efficiency 0.388 @ loadavg
    13 vs 0.88 @ 4.4 on 32 cores), so measurement blocks WAIT for
    loadavg(1m) < bar before starting (up to max_wait).  Returns the
    loadavg actually seen and the seconds waited, both recorded in the
    output.  A noise gate chosen before the session, never a post-hoc
    filter of unfavourable results."""
    waited = 0.0
    while True:
        with open("/proc/loadavg") as fh:
            load = float(fh.read().split()[0])
        if load < bar or waited >= max_wait:
            return load, waited
        log(f"   loadavg {load} >= {bar}; waiting for a quiet window...")
        time.sleep(30)
        waited += 30


# Round-5 protocol v5 (pre-registered in NOTES.md; OBSERVATIONAL only —
# no change to any admission/retry/discard rule): a ~2s single-core
# host-speed probe — pure Python/numpy extract_payload over a frozen
# 400-doc corpus prefix, pinned to cpu 0 (silicon every measurement
# uses).  A steady probe next to a depressed measurement isolates
# parallel-path interference (memory bandwidth / SMT co-tenancy) from
# host-wide slowdown (frequency / hypervisor), which the probe WOULD
# catch.  Recorded as a covariate in scaling sessions (per pair) and
# the per-query suite (per round); diagnostic for the ledger, never a
# filter.
_CALIB_SRC = (
    "import sys,time,glob;sys.path.insert(0,{root!r});"
    "import pyarrow.parquet as pq;"
    "from pdf_extraction_spark.operators.layout import extract_payload;"
    "p=[]\n"
    # accumulate across sorted part files: Spark corpora can lead with
    # empty parts, so a first-file-only read can come back with 0 docs
    "for f in sorted(glob.glob('{corpus}/part*.parquet') or "
    "glob.glob('{corpus}/*.parquet')):\n"
    "    p+=pq.read_table(f,columns=['html']).column('html').to_pylist()\n"
    "    if len(p)>=400: break\n"
    "p=p[:400]\n"
    "assert p, 'calib corpus empty'\n"
    "[extract_payload(x) for x in p[:50]]\n"
    "t=time.perf_counter()\n"
    "sum(len(extract_payload(x)) for x in p)\n"
    "print(round(len(p)/(time.perf_counter()-t),2))"
)


def calib_probe(corpus: str) -> float | None:
    """Run the v5 probe over ``corpus``; docs/s or None.  Never raises —
    a covariate must not kill a measurement run."""
    pinned = subprocess.run(
        ["which", "taskset"], capture_output=True
    ).returncode == 0
    cmd = (["taskset", "-c", "0"] if pinned else []) + [
        sys.executable, "-c", _CALIB_SRC.format(root=HERE, corpus=corpus),
    ]
    try:
        res = subprocess.run(cmd, capture_output=True, text=True,
                             check=True, timeout=60)
        return float(res.stdout.strip().splitlines()[-1])
    except Exception as exc:
        log(f"   calibration probe failed ({exc!r}) — recorded null")
        return None


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def ensure_corpus(spark, n_docs: int) -> str:
    path = os.path.join(HERE, ".work", f"bench_corpus_{n_docs}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from pdf_extraction_spark.sources.corpus import write_corpus

        log(f"generating bench corpus ({n_docs} docs) -> {path}")
        write_corpus(spark, path, n_docs)
    return path


def run_extract(spark, corpus_path: str, stage: str = "full") -> tuple[float, int, int]:
    from pdf_extraction_spark.operators.extract import extract_stage

    inp = spark.read.parquet(corpus_path)
    n_docs = inp.count()
    if stage == "extract":
        # the map-parallel extraction job alone (layout kernel, with
        # the salted page scatter of oversized SPDF documents)
        t0 = time.monotonic()
        extract_stage(inp).write.mode("overwrite").format("noop").save()
        return time.monotonic() - t0, n_docs, 0
    # the real committed pipeline: every stage lands in the stage store
    # (parquet snapshot) and downstream stages re-read it — partition
    # counts renormalize at each boundary and column pruning comes from
    # the parquet scan, exactly as in production
    import shutil

    from pdf_extraction_spark.plans.pipeline import run_pipeline

    stage_root = os.path.join(HERE, ".work", "bench_stages")
    shutil.rmtree(stage_root, ignore_errors=True)
    t0 = time.monotonic()
    out = run_pipeline(spark, inp, stage_root, resume=False)
    dt = time.monotonic() - t0
    # pages processed: per-doc work varies with the corpus generation
    # (round 2 enriched it), so pages/sec is the cross-round-comparable
    # number; counted outside the timed window from the committed stage
    n_pages = out["pages"].filter("page_no > 0").count()
    return dt, n_docs, n_pages


# the headline queries timed by the default mode (and tools/bench_queries.py)
HEADLINE = [
    "pricing_summary", "shipping_priority", "sessionize",
    "bm25_documents", "hybrid_retrieval", "dedup_exact",
    "minhash_signatures", "lsh_pairs", "simhash",
    "cosine_topk", "ann_lsh_topk", "quality_score",
]


def headline_queries(sf_dir: str):
    sys.path.insert(0, HERE)
    import __spark_entry__ as entry

    qs = entry.queries()
    return {n: qs[n] for n in HEADLINE}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", CORES)))
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--extract-docs", type=int, default=None)
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--quick", action="store_true", help="sf0.01 quick mode")
    args = ap.parse_args()
    if args.quick:
        args.sf_dir = "/root/testdata/sf0.01"
        # quick mode is the iteration loop: keep the 200-doc pipeline
        args.extract_docs = args.extract_docs or 200

    sf = sf_of(args.sf_dir)
    # 80000*sf (8000 docs at sf0.1): at the old 2000 docs the committed
    # pipeline spent >40% of wall in fixed stage overhead (6 Spark jobs
    # + parquet snapshots for ~16s of wall, round-3 verdict item 6); at
    # 8000 per-doc compute dominates (overhead <20%).
    n_docs = args.extract_docs or max(200, int(80000 * sf))

    from pdf_extraction_spark.session import build_session

    spark = build_session("bench", cores=args.cpus,
                          shuffle_partitions=max(8, args.cpus))
    corpus = ensure_corpus(spark, n_docs)

    # warmup: spin up JVM + Python workers so timings measure the jobs
    log("warmup...")
    spark.read.parquet(corpus).limit(32).count()
    warm = ensure_corpus(spark, 50)
    run_extract(spark, warm)

    results: dict[str, float] = {}
    # committed-pipeline numbers use >=3 runs (round-2 verdict: n=2 was
    # too thin under +-30% host noise); per-query timings keep args.runs
    pipe_runs = max(3, args.runs)
    log(f"extract pipeline ({n_docs} docs, {pipe_runs} run(s))...")
    pipe_load, pipe_wait = wait_quiet()
    times = []
    for _ in range(pipe_runs):
        dt, n, n_pages = run_extract(spark, corpus)
        times.append(dt)
    results["extract_pipeline"] = round(statistics.median(times), 3)
    docs_per_sec = round(n_docs / results["extract_pipeline"], 2)
    docs_per_sec_peak = round(n_docs / min(times), 2)
    log(f"  {results['extract_pipeline']}s  ({docs_per_sec} docs/sec, peak {docs_per_sec_peak})")
    corpus_v2_block = {
        "generator": "v2 (live, coverage)",
        "extract_docs": n_docs,
        "runs": pipe_runs,
        "extract_pipeline_sec": results["extract_pipeline"],
        "extract_pipeline_all": [round(t, 3) for t in times],
        "docs_per_sec": docs_per_sec,
        "pages_per_sec": round(n_pages / results["extract_pipeline"], 2) if n_pages else None,
        "loadavg_at_start": pipe_load,
    }
    stage_times = []
    for _ in range(pipe_runs):
        dt2, _, _ = run_extract(spark, corpus, "extract")
        stage_times.append(dt2)
    dt2 = statistics.median(stage_times)
    results["extract_stage"] = round(dt2, 3)
    extract_stage_dps = round(n_docs / dt2, 2)
    corpus_v2_block["extract_stage_sec"] = results["extract_stage"]
    corpus_v2_block["extract_stage_docs_per_sec"] = extract_stage_dps
    log(f"  extract_stage: {dt2:.3f}s ({extract_stage_dps} docs/sec)")

    # Round-4 verdict item 1: the per-query numbers were unpinned
    # n~=1 on a +-30%-noise host, so regression vs noise needed a
    # judge to adjudicate.  The suite now runs under a pre-registered
    # discipline: loadavg<5 quiet-window
    # gate before each ROUND, >=3 ROUND-ROBIN rounds (the whole
    # suite per round, so minute-scale drift hits all queries alike
    # instead of whichever query it lands on), median per query,
    # every raw run + the observed loadavg recorded in the output.
    qfns = headline_queries(args.sf_dir)
    q_rounds = max(3, args.runs)
    all_runs: dict[str, list[float]] = {n: [] for n in qfns}
    round_loads = []
    round_waits = []
    round_calibs = []
    log(f"query suite ({len(qfns)} queries, {q_rounds} round-robin rounds)...")
    for _ in range(q_rounds):
        load, waited = wait_quiet()
        round_loads.append(load)
        round_waits.append(waited)
        round_calibs.append(calib_probe(corpus))
        for name, fn in qfns.items():
            t0 = time.monotonic()
            df = fn(spark, args.sf_dir)
            df.write.mode("overwrite").format("noop").save()
            all_runs[name].append(round(time.monotonic() - t0, 3))
    for name, ts in all_runs.items():
        results[name] = round(statistics.median(ts), 3)
        log(f"  {name}: {results[name]}s  (runs {ts})")
    query_provenance = {
        "rounds": q_rounds,
        "interleaving": "round-robin (whole suite per round)",
        "statistic": "median per query across rounds",
        "loadavg_before_rounds": round_loads,
        "calib_docs_per_sec": round_calibs,
        "calib": "v5 observational single-core host-speed probe per "
                 "round (never a filter)",
        "all_runs": all_runs,
    }

    total = round(sum(results.values()), 3)
    out = {
        "metric": "e2e_headline_sec",
        "value": total,
        "unit": "sec",
        "queries": results,
        "sf": sf,
        "docs_per_sec": docs_per_sec,
        "docs_per_sec_peak": docs_per_sec_peak,
        "extract_pages": n_pages,
        "pages_per_sec": round(n_pages / results["extract_pipeline"], 2) if n_pages else None,
        "extract_stage_docs_per_sec": extract_stage_dps,
        "extract_docs": n_docs,
        "cpus": args.cpus,
        "driver_jvm_xx_args": [
            a for a in spark.sparkContext._jvm.java.lang.management
            .ManagementFactory.getRuntimeMXBean().getInputArguments()
            if a.startswith("-XX:")
        ],
        "corpus_v2": corpus_v2_block,
        "query_provenance": query_provenance,
        "gate": {
            "rule": f"loadavg(1m) < {QUIET_BAR:g} (5 x cores/32, at least 1), "
                    "up to 600s wait, before the pipeline runs and each "
                    "query round",
            "waited_s_before_pipeline": pipe_wait,
            "waited_s_before_rounds": round_waits,
        },
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
