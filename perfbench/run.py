#!/usr/bin/env python3
"""Benchmark entry point: one command per workload.

    python3 perfbench/run.py --workload kernel|crawl --seed N --seconds S --trace 0|1

Run from the repository root. Each run starts one fresh worker process
(``worker.py``) that sets up a warmed session — ``setup_s`` is measured
from the spawn to the end of that warm-up — then makes the inputs and
their reference when the cache in ``.perfbench_cache/`` (keyed by seed,
size and source digest) misses (generation time goes into the record, not
into ``setup_s``), and runs the timed region, checking every operation
against the reference.
With ``--trace 1`` it runs the traced region instead
(``worker.run_traced``), with Spark's event log enabled from outside.

Sessions take their core count from ``os.sched_getaffinity`` and keep every
other program default: no ``SPARK_GRAFT_*`` variable reaches the worker.
In a traced run, resident memory is sampled from ``/proc`` every 100 ms over
the worker's whole process session (Python driver, JVM and Python workers);
its peak in the traced region goes into the per-layer metrics. Untraced runs
do not sample, so the scan does not compete with the timed region.
The full record, with the environment probes, goes to ``.perfbench_out/``;
the last line of standard output is the one-line JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.sizes import cache_key  # noqa: E402

WORKLOADS = ("kernel", "crawl")
RUN_LIMIT_S = 170.0
CACHE_KEEP = 64  # input-cache entries kept (least recently used go first)


def _session_pids(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue
        fields = data[data.rindex(")") + 2:].split()
        if int(fields[3]) == sid:
            pids.append(int(name))
    return pids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total / 1e6


class _Sampler(threading.Thread):
    """RSS of one process session, every 100 ms."""

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid = sid
        self.samples: list[tuple[float, float, float]] = []
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.is_set():
            pids = _session_pids(self.sid)
            jvm = [p for p in pids if _comm(p) == "java"]
            self.samples.append((time.monotonic(), _rss_mb(pids), _rss_mb(jvm)))
            self.stop.wait(0.1)


def _reap(sid: int) -> None:
    """Stop every process left in the session and wait until all are gone."""
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait
        while time.monotonic() < end and _session_pids(sid):
            time.sleep(0.1)
    if _session_pids(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def _worker_env(work: str, trace: bool) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        for conf in ("spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                     "spark.eventLog.rolling.enabled=false", f"spark.eventLog.dir=file://{evdir}"):
            submit += ["--conf", conf]
    env.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]))
    return env


def _spawn(args, work: str, cache: str, deadline: float) -> tuple[dict, list]:
    out = os.path.join(work, "worker.json")
    log_path = os.path.join(work, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--root", ROOT,
           "--work", work, "--workload", args.workload,
           "--cache", cache, "--out", out, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--spawn-t", repr(time.monotonic())]
    if args.fault:
        cmd += ["--fault", args.fault]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=_worker_env(work, bool(args.trace)),
                                stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        sampler = _Sampler(proc.pid) if args.trace else None
        if sampler:
            sampler.start()
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if sampler:
                sampler.stop.set()
                sampler.join()
            _reap(proc.pid)
            if proc.poll() is None:
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        why = "timed out" if rc is None else f"exited with {rc}"
        raise SystemExit(f"perfbench: worker {why}")
    with open(out) as f:
        return json.load(f), sampler.samples if sampler else []


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (field 8)."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / max(sum(d), 1)


def _memcpy_gbps() -> float:
    import numpy as np

    src = np.ones(64 * 1024 * 1024 // 8)
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(8):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return src.nbytes / best / 1e9


def _prune_cache(cache_root: str, keep_path: str) -> None:
    entries = [os.path.join(cache_root, n) for n in os.listdir(cache_root)]
    entries = [e for e in entries if os.path.isdir(e) and e != keep_path]
    entries.sort(key=os.path.getmtime)
    for e in entries[: max(0, len(entries) - (CACHE_KEEP - 1))]:
        shutil.rmtree(e, ignore_errors=True)


def _record_name(args, trace: int) -> str:
    fault = f"-{args.fault}" if args.fault else ""
    return f"{args.workload}-seed{args.seed}-trace{trace}{fault}.json"


def _untraced_run_s(out_dir: str, args) -> float | None:
    """run_s of the same seed's clean untraced record, for the tracing
    overhead; None when there is none."""
    path = os.path.join(out_dir, _record_name(args, 0))
    if not os.path.exists(path):
        return None
    with open(path) as f:
        rec = json.load(f)
    return rec["metrics"]["run_s"]["value"] if rec.get("correct") else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", default=None,
                    help="plant one output fault (tests: drop_row, alter_vt, bloom_fn)")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "warc_bench_spark")) or not os.path.exists(spec_path):
        print("perfbench: run from a checkout of the repository (warc_bench_spark/ and "
              "BENCHMARK.json must sit next to perfbench/)", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    t_begin = time.monotonic()
    deadline = t_begin + RUN_LIMIT_S
    env_before = {"loadavg": os.getloadavg(), "memcpy_gbps": _memcpy_gbps(),
                  "ticks": _cpu_ticks()}
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cache_root = os.path.join(ROOT, ".perfbench_cache")
    os.makedirs(cache_root, exist_ok=True)
    cache = os.path.join(cache_root, cache_key(args.workload, args.seed, ROOT))
    hit = os.path.exists(os.path.join(cache, "reference.json"))
    if not hit:
        _prune_cache(cache_root, cache)
    main_res, samples = _spawn(args, work, cache, deadline)
    os.utime(cache)
    attempted, failed = main_res["attempted"], main_res["failed"]
    if args.trace:
        t0, t1 = main_res["timed"]
        timed = [(v, j) for t, v, j in samples if t0 <= t <= t1]
        values = {**main_res["layers"], "peak_rss_mb": max(v for v, _ in timed),
                  "jvm_peak_rss_mb": max(j for _, j in timed)}
        names = spec["per_layer"]
    else:
        values = {**main_res["metrics"], "setup_s": main_res["setup"]["setup_s"]}
        names = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    record = {
        **result,
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "fault": args.fault,
        "error_rate": failed / attempted,
        "cache_hit": hit, "gen_s": main_res["gen_s"],
        "env": {
            "nproc": os.cpu_count(), "affinity": len(os.sched_getaffinity(0)),
            "mem_total_kb": _meminfo_kb("MemTotal"),
            "loadavg_before": env_before["loadavg"], "loadavg_after": os.getloadavg(),
            "memcpy_gbps": env_before["memcpy_gbps"],
            "cpu_steal_share": _steal_share(env_before["ticks"], _cpu_ticks()),
            "spark_conf": main_res["setup"]["conf"],
        },
        "worker": {k: v for k, v in main_res.items() if k not in ("layers", "metrics")},
        "wall_s": time.monotonic() - t_begin,
    }
    if args.trace:
        base = _untraced_run_s(out_dir, args)
        traced_s = main_res["attribution"]["traced_run_s"]
        record["tracing_overhead"] = {
            "traced_run_s": traced_s, "untraced_run_s": base,
            "overhead_s": None if base is None else traced_s - base,
        }
    with open(os.path.join(out_dir, _record_name(args, args.trace)), "w") as f:
        json.dump(record, f, indent=1)

    summary = ", ".join(f"{k}={v['value']:.4g}{v['unit']}" for k, v in metrics.items())
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{attempted} ops, {failed} failed; {summary}")
    if args.trace:
        att = main_res["attribution"]
        print(f"perfbench attribution: layers {att['layer_sum_s']:.3f}s of traced run_s "
              f"{att['traced_run_s']:.3f}s, unattributed {att['unattributed_s']:.3f}s "
              f"(adds up within 10%: {att['adds_up']}); overhead {record['tracing_overhead']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
