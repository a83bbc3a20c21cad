"""Benchmark of the extraction engine, run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline_2k --seed 1 --seconds 5 --trace 0

Workloads (perfbench/README.md says what each exercises and why):

* ``pipeline_2k``     the committed pipeline over a seeded 2000-doc corpus,
                      first pass of a fresh session (traced: also the
                      vector build and an incremental re-crawl);
* ``queries_sf0.03``  a round of 14 ``__spark_entry__`` queries after a
                      warm-up round, over fixed tables at 0.3 x the sf0.1
                      row counts.

Inputs are generated from ``--seed`` and cached under ``perfbench/.work``.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  Each run also writes a
result file (and, traced, a spans file) under ``perfbench/.work/results``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import procs  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# name -> (workload kind, size: documents, or query-table scale where
# 1.0 is the sf0.1 row counts)
WORKLOADS = {
    "pipeline_2k": ("pipeline", 2000),
    "queries_sf0.03": ("queries", 0.3),
}
# explicit: build_session's 16g default is more than a 15 GB host has
DRIVER_MEMORY = "3g"
CALIB_DOCS = 400
END_TO_END_UNITS = {"op_cpu_s": "s", "setup_s": "s"}
# set in the child process that measures; the parent only supervises it
WORKER_ENV = "PERFBENCH_WORKER"
PR_SET_CHILD_SUBREAPER = 36


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isdir(
        os.path.join(ROOT, "pdf_extraction_spark")
    )


def start_session(cores: int, work: str = WORK):
    """``local[cores]`` with pinned shuffle partitions and driver memory;
    every file Spark writes stays under ``work``."""
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        # the JVM that spark-submit starts to build the driver's command
        # line would otherwise write its perf data under the system temp dir
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    from pdf_extraction_spark.session import build_session

    return build_session(
        "perfbench", cores=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it owns)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def loadavg() -> float:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return float(fh.read().split()[0])


def provenance(args) -> dict:
    import pyspark

    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    # a checkout without git history still identifies its code
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "pdf_extraction_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(f.encode() + fh.read())
    kind, size = WORKLOADS[args.workload]
    return {
        "git_sha": sha, "source_sha256": digest.hexdigest(), "workload": args.workload,
        "kind": kind, "size": size, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": args.cores, "master": f"local[{args.cores}]",
        "shuffle_partitions": args.cores, "driver_memory": DRIVER_MEMORY,
        "pyspark": pyspark.__version__, "python": platform.python_version(),
    }


def measure(args):
    """Run the workload; returns (result record, Bench)."""
    import inputs
    import workloads
    from spans import Tracer

    cache = inputs.Cache(os.path.join(WORK, "cache"))
    kind, size = WORKLOADS[args.workload]
    spark = start_session(args.cores)
    session_s = time.perf_counter() - T_START
    try:
        b = workloads.Bench(spark, Tracer(spark), cache, os.path.join(WORK, "runs"),
                            seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
                            workers=min(4, args.cores))
        load_start = loadavg()
        workloads.KINDS[kind](b, size)
        b.count_span_failures()
        load_end = loadavg()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"jvm": vm_hwm_mb(jvm_pid), "python": vm_hwm_mb("self")}
    finally:
        stop_session(spark)
    # covariates, recorded after timing and never used as a filter
    from bench import calib_probe

    calib_dir, _ = inputs.corpus(cache, inputs.BASE_SEED, CALIB_DOCS, b.workers)
    record = {
        "provenance": provenance(args),
        "covariates": {"loadavg_start": load_start, "loadavg_end": load_end,
                       "calib_docs_per_s": calib_probe(os.path.join(calib_dir, "corpus"))},
        # the first sample of each is the measured pass, later ones are warm
        "samples": b.samples, "extra": b.extra,
        "phase_end_s": dict(session=session_s, **{k: v - T_START for k, v in b.marks.items()}),
        "generation": dict(b.gen, wall_s=b.build_wall), "problems": b.problems,
        "peak_rss_mb": sum(rss.values()), "peak_rss_split_mb": rss,
        "error_rate": b.failed / max(1, b.attempted),
    }
    if b.first_timed is not None:
        record["setup_s"] = b.first_timed - T_START - b.build_wall
    return record, b


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process."""
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_all(grace: float) -> None:
    """Wait until no process below this one is left, reaping each; after
    ``grace`` seconds send SIGTERM, five seconds later SIGKILL."""
    t0, logged = time.monotonic(), set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        live = sorted(procs.below(os.getpid(), procs.stats()))
        if not live:
            return
        waited = time.monotonic() - t0
        if waited > grace:
            sig = signal.SIGKILL if waited > grace + 5 else signal.SIGTERM
            if sig not in logged:
                logged.add(sig)
                log(f"perfbench: sending {sig.name} to leftover processes {live}")
            for pid in live:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def supervise(argv: list[str]) -> int:
    """Run the measurement in a child process; once it has exited, wait
    for every process it left behind -- Spark's Python daemon, which
    exits after the JVM, and multiprocessing's resource tracker, which
    exits after its owner -- so that none outlives the run.  Orphans are
    re-parented to this process, which therefore sees and reaps them."""
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                             env=dict(os.environ, **{WORKER_ENV: "1"}))
    try:
        return child.wait()
    finally:
        if child.poll() is None:
            child.terminate()
        reap_all(grace=20)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not package_present():
        log("perfbench: run from the root of a checkout of the engine "
            "(pdf_extraction_spark/ and __spark_entry__.py not found)")
        return 2
    if not os.environ.get(WORKER_ENV):
        return supervise(argv)
    sys.path[:0] = [HERE, ROOT]
    args.cores = len(os.sched_getaffinity(0))
    record, b = measure(args)
    import workloads

    primary = workloads.PRIMARY[WORKLOADS[args.workload][0]]
    if not b.samples.get(f"{primary}_s"):
        log("perfbench: no timed operation succeeded:\n  " + "\n  ".join(b.problems))
        return 1
    if args.trace:
        layers = dict(b.layers, error_rate=record["error_rate"], peak_rss_mb=record["peak_rss_mb"])
        layers["sources.corpus.gen_s"] = b.gen.get("gen_s", 0.0)
        layers["oracle.expect_s"] = b.gen.get("oracle_s", 0.0)
        units = workloads.per_layer_units()
        metrics = {n: {"value": layers.get(n, 0), "unit": u} for n, (u, _) in units.items()}
    else:
        values = {"op_cpu_s": b.samples[f"{primary}_cpu_s"][0], "setup_s": record["setup_s"]}
        metrics = {n: {"value": v, "unit": END_TO_END_UNITS[n]} for n, v in values.items()}
    result = {"correct": b.failed == 0, "attempted": b.attempted, "failed": b.failed,
              "metrics": metrics}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(f"{stem}.json", "w", encoding="utf-8") as fh:
        json.dump(dict(record, result=result), fh, indent=1)
    if args.trace:
        with open(f"{stem}-spans.json", "w", encoding="utf-8") as fh:
            json.dump(b.tracer.spans, fh)
    for p in b.problems:
        log(f"perfbench: {p}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:
        log(traceback.format_exc())
        sys.exit(1)
