"""Per-query isolation bench + plan capture (guide §1).

NOT the driver bench (bench.py is frozen for measurement): this tool
times individual declared queries with the noop sink, round-robin over
N rounds, and can dump ``explain('formatted')`` plans to files — the
evidence artifacts for plans/r06/.

Usage:
  python tools/bench_queries.py --sf-dir /root/testdata/sf1.0 \
      --rounds 3 [--queries a,b,c] [--plans-dir plans/r06 --plan-suffix _before]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CORES, HEADLINE  # noqa: E402


def formatted_plan(df) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", CORES)))
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--queries", default=None,
                    help="comma-separated subset (default: headline 12)")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--plan-suffix", default="_before")
    ap.add_argument("--out", default=None, help="write JSON here too")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from pdf_extraction_spark.session import build_session

    spark = build_session("bench_queries", cores=args.cpus,
                          shuffle_partitions=max(8, args.cpus))
    qs = entry.queries()
    names = args.queries.split(",") if args.queries else HEADLINE
    missing = [n for n in names if n not in qs]
    assert not missing, f"unknown queries: {missing}"

    # warmup: exercise scan + python worker paths once
    for n in names:
        qs[n](spark, args.sf_dir).limit(1).count()

    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)
        for n in names:
            df = qs[n](spark, args.sf_dir)
            p = os.path.join(args.plans_dir, f"{n}{args.plan_suffix}.txt")
            with open(p, "w", encoding="utf-8") as fh:
                fh.write(formatted_plan(df))
            print(f"plan -> {p}", file=sys.stderr)

    all_runs: dict[str, list[float]] = {n: [] for n in names}
    loads = []
    for r in range(args.rounds):
        with open("/proc/loadavg") as fh:
            loads.append(float(fh.read().split()[0]))
        for n in names:
            spark.sparkContext.setJobDescription(f"bench_queries:{n}:r{r}")
            t0 = time.monotonic()
            df = qs[n](spark, args.sf_dir)
            df.write.mode("overwrite").format("noop").save()
            all_runs[n].append(round(time.monotonic() - t0, 3))
        print(f"round {r + 1}/{args.rounds} done (loadavg {loads[-1]})",
              file=sys.stderr)
    out = {
        "sf_dir": args.sf_dir,
        "rounds": args.rounds,
        "loadavg_before_rounds": loads,
        "medians": {n: round(statistics.median(ts), 3)
                    for n, ts in all_runs.items()},
        "all_runs": all_runs,
    }
    print(json.dumps(out))
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            json.dump(out, fh, indent=2)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
