#!/usr/bin/env python
"""Per-query isolation bench for optimization work (guide §1) — bench.py is
FROZEN for the driver's measurement, so extra instrumentation lives here.

Times individual registry queries with the same methodology as bench.py's
query suite (same get_spark session shape, .collect() timing, one warm
query first), against any data dir — including the sf1.0 proxy built by
tools/make_sf_proxy.py. Optionally captures .explain("formatted") per
query to plans/r08/<q>_<tag>.txt.

Usage:
  python bench_extra.py --dir /root/sfproxy/sf1.0 --reps 2 q31 q67 ...
  python bench_extra.py --dir /root/sfproxy/sf1.0 --explain before q31
  python bench_extra.py --dir /root/sfproxy/sf1.0 --all
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from warc_bench_spark.session import get_spark  # noqa: E402


def load_probe() -> dict:
    """Same ambient probe as bench.py: loadavg + single-core DRAM memcpy."""
    import numpy as np

    with open("/proc/loadavg") as f:
        la = f.read().split()
    src = np.ones(64 * 1024 * 1024 // 8, dtype=np.float64)
    dst = np.empty_like(src)
    dst.fill(0.0)
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return {
        "loadavg_1m": float(la[0]),
        "memcpy_gbps": round((2 * src.nbytes / best) / 1e9, 2),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="qNN prefixes (e.g. q31)")
    ap.add_argument("--dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--explain", default=None, metavar="TAG",
                    help="write plans/r08/<q>_<TAG>.txt instead of timing")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))))
    args = ap.parse_args()

    from __spark_entry__ import REGISTRY  # applies the window rotation

    if args.all:
        names = list(REGISTRY)
    else:
        names = [n for n in REGISTRY if n.split("_", 1)[0] in set(args.queries)]
        missing = set(args.queries) - {n.split("_", 1)[0] for n in names}
        if missing:
            ap.error(f"unknown queries: {sorted(missing)}")

    spark = get_spark("bench-extra", cores=args.cpus, shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/IO once so per-query numbers measure the plan, not startup
    REGISTRY["q03_success_rate_rollup"].fn(spark, args.dir).collect()

    if args.explain:
        out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r08")
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            df = REGISTRY[name].fn(spark, args.dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            short = name.split("_", 1)[0]
            path = os.path.join(out_dir, f"{short}_{args.explain}.txt")
            with open(path, "w") as f:
                f.write(txt)
            print(f"wrote {path}", file=sys.stderr)
        spark.stop()
        return

    probes = {"start": load_probe()}
    results: dict[str, list[float]] = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        draws = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, args.dir).collect()
            draws.append(round(time.perf_counter() - t0, 3))
        results[name.split("_", 1)[0]] = draws
        print(f"  {name}: {draws}", file=sys.stderr, flush=True)
    probes["end"] = load_probe()
    spark.stop()
    print(
        json.dumps(
            {"dir": args.dir, "cpus": args.cpus, "results": results, "probes": probes}
        )
    )


if __name__ == "__main__":
    main()
