"""One benchmark run in a fresh process: set up a warmed session (the
set-up sample), make the inputs if the cache misses, then run the timed or
the traced region (see ``run.py``).

Usage (spawned by run.py, not by hand):
    python3 perfbench/worker.py --root DIR --work DIR
        --workload NAME --seed N --seconds S --trace 0|1
        --spawn-t T --cache DIR --out FILE [--fault NAME]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time


def setup_session(spawn_t: float, work: str):
    """Fresh process -> warmed session: get_spark (JVM start, py-files zip)
    and one tiny Arrow UDF, shuffle and parquet write."""
    t_import = time.monotonic()
    from pyspark.sql import functions as F

    from warc_bench_spark.functions.urls import canonicalize_udf
    from warc_bench_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark("perfbench", cores=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.monotonic()
    urls = [(f"https://warm{i}.example.com/a?x={i}&timestamp={i}",) for i in range(64)]
    spark.createDataFrame(urls, "url string").select(canonicalize_udf("url")).collect()
    spark.range(0, 4096).groupBy(F.col("id") % 8).count().collect()
    spark.range(0, 128).write.mode("overwrite").parquet(os.path.join(work, "warm"))
    t2 = time.monotonic()
    conf = {k: spark.conf.get(k) for k in
            ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions")}
    return spark, {
        "setup_s": t2 - spawn_t,
        "import_s": t0 - t_import,
        "session.get_spark_s": t1 - t0,
        "session.warm_s": t2 - t1,
        "conf": conf,
    }


def _kernel_layers(res: dict, folded: dict) -> tuple[dict, list[str]]:
    from perfbench.trace import sum_groups, task_skew

    s, c = res["self_s"], res["counts"]
    rank = sum_groups(folded, ["politeness.rank"])
    dedup = sum_groups(folded, ["dedup.bloom_build", "dedup.probe", "dedup.antijoin"])
    return {
        "urls.canonicalize_s": s["urls.canonicalize"],
        "urls.identity_s": s["urls.identity"],
        "urls.rows_in": c["urls.rows_in"],
        "urls.rows_dropped": c["urls.rows_dropped"],
        "dedup.bloom_build_s": s["dedup.bloom_build"],
        "dedup.probe_s": s["dedup.probe"],
        "dedup.antijoin_s": s["dedup.antijoin"],
        "dedup.maybe_ratio": c["dedup.maybe_ratio"],
        "dedup.fp_rate": c["dedup.fp_rate"],
        "dedup.fresh_ratio": c["dedup.fresh_ratio"],
        "dedup.shuffle_bytes": dedup["shuffle_write_bytes"],
        "politeness.rank_s": s["politeness.rank"],
        "politeness.hot_hosts": c["politeness.hot_hosts"],
        "politeness.task_skew": task_skew(rank["task_records"]),
        "politeness.shuffle_bytes": rank["shuffle_write_bytes"],
        "politeness.spill_bytes": rank["spill_bytes"],
    }, [res["pass_group"]]


def _crawl_layers(res: dict, folded: dict, tracer) -> tuple[dict, list[str]]:
    from perfbench.trace import sum_groups, task_skew

    acc, ph, n_waves = res["acc"], res["phases"], max(res["n_waves"], 1)
    tot, cnt = tracer.totals(), tracer.counts()
    rank = sum_groups(folded, ["trace.politeness.rank"])
    cand, maybe, fresh = (acc.get(k, 0) for k in ("dedup.cand", "dedup.maybe", "dedup.fresh"))
    wave_groups = [f"wave{w}" for w in range(res["n_waves"])]
    stats = res["crawl"]["stats"]
    return {
        "urls.canonicalize_s": acc.get("urls.canonicalize_s", 0.0),
        "urls.identity_s": acc.get("urls.identity_s", 0.0),
        "urls.rows_in": acc.get("urls.rows_in", 0),
        "urls.rows_dropped": acc.get("urls.rows_dropped", 0),
        "dedup.bloom_build_s": tot.get("dedup.bloom_build", 0.0),
        "dedup.probe_s": acc.get("dedup.probe_s", 0.0),
        "dedup.antijoin_s": acc.get("dedup.antijoin_s", 0.0),
        "dedup.maybe_ratio": maybe / cand if cand else 0.0,
        "dedup.fp_rate": (fresh - (cand - maybe)) / fresh if fresh else 0.0,
        "dedup.fresh_ratio": fresh / cand if cand else 0.0,
        "dedup.shuffle_bytes": sum_groups(folded, ["trace.dedup.antijoin"])["shuffle_write_bytes"],
        "dedup.store_load_s": tot.get("dedup.store_load", 0.0),
        "dedup.store_update_s": tot.get("dedup.store_update", 0.0),
        "politeness.rank_s": acc.get("politeness.rank_s", 0.0),
        "politeness.hot_hosts": acc.get("politeness.hot_hosts", 0),
        "politeness.task_skew": task_skew(rank["task_records"]),
        "politeness.shuffle_bytes": rank["shuffle_write_bytes"],
        "politeness.spill_bytes": rank["spill_bytes"],
        "extract.s": acc.get("extract.s", 0.0),
        "extract.rows_out": acc.get("extract.rows_out", 0),
        "crawl.bootstrap_s": tot.get("crawl.bootstrap", 0.0),
        "crawl.schedule_seen_write_s": ph.get("schedule_seen_write", 0.0),
        "crawl.expand_frontier_write_s": ph.get("expand_frontier_write", 0.0),
        "crawl.log_write_s": ph.get("log_write", 0.0),
        "crawl.metrics_publish_s": ph.get("metrics_publish", 0.0),
        "crawl.filter_update_s": ph.get("filter_update", 0.0),
        "crawl.jobs_per_wave": sum_groups(folded, wave_groups)["jobs"] / n_waves,
        "crawl.admitted": sum(s.admitted for s in stats),
        "crawl.new_urls": sum(s.new_urls for s in stats),
        "state.publish_s": tot.get("state.publish", 0.0),
        "state.latest_calls": cnt.get("state.latest", 0),
        "state.latest_s": tot.get("state.latest", 0.0),
        "state.files_written": res["files"],
        "state.bytes_written": res["bytes"],
    }, wave_groups + ["crawl.bootstrap"]


# per-layer metrics of layers only a crawl exercises (no filter store,
# extraction, wave loop or snapshot state in a kernel pass)
_CRAWL_ONLY = (
    "dedup.store_load_s", "dedup.store_update_s", "extract.s", "extract.rows_out",
    "crawl.bootstrap_s", "crawl.schedule_seen_write_s", "crawl.expand_frontier_write_s",
    "crawl.log_write_s", "crawl.metrics_publish_s", "crawl.filter_update_s",
    "crawl.jobs_per_wave", "crawl.admitted", "crawl.new_urls", "state.publish_s",
    "state.latest_calls", "state.latest_s", "state.files_written", "state.bytes_written",
)

# containers whose self time is driver work between layer calls
_CONTAINERS = {"crawl.run", "wave"}


def _attribution(run_s: float, layer_self: dict[str, float]) -> dict:
    covered = sum(layer_self.values())
    rest = run_s - covered
    return {
        "traced_run_s": run_s,
        "layer_self_s": layer_self,
        "layer_sum_s": covered,
        "unattributed_s": rest,
        "adds_up": abs(rest) <= 0.10 * run_s,
    }


def run_traced(mod, spark, args, inp, ref, setup) -> dict:
    from perfbench.trace import Tracer, fold_event_log, sum_groups

    tracer = Tracer(f"{args.workload}-{args.seed}", spark)
    t_start = time.monotonic()
    res = mod.traced(spark, inp, ref, args.seed, args.work, tracer, args.fault)
    ok = res["ok"]
    timed = [t_start, time.monotonic()]
    if args.workload == "kernel":
        layer_self = dict(res["self_s"])
    else:
        layer_self = {k: v for k, v in tracer.self_times().items() if k not in _CONTAINERS}
    spark.stop()
    folded = fold_event_log(os.path.join(args.work, "eventlog"))
    if args.workload == "kernel":
        layers, groups = _kernel_layers(res, folded)
        layers.update(dict.fromkeys(_CRAWL_ONLY, 0))  # layers the kernel bypasses
    else:
        layers, groups = _crawl_layers(res, folded, tracer)
    att = _attribution(res["run_s"], layer_self)
    whole = sum_groups(folded, groups)
    layers.update({
        "session.get_spark_s": setup["session.get_spark_s"],
        "session.warm_s": setup["session.warm_s"],
        "spark.jobs": whole["jobs"],
        "spark.tasks": whole["tasks"],
        "spark.gc_s": whole["gc_s"],
        "spark.shuffle_write_bytes": whole["shuffle_write_bytes"],
        "spark.spill_bytes": whole["spill_bytes"],
        "trace.run_s": att["traced_run_s"],
        "trace.unattributed_s": att["unattributed_s"],
    })
    return {"timed": timed, "attempted": len(ok), "failed": ok.count(False), "layers": layers,
            "attribution": att, "spans": tracer.spans,
            "event_groups": {g: {k: v for k, v in d.items() if k != "task_records"}
                             for g, d in folded.items()}}


def main() -> None:
    ap = argparse.ArgumentParser()
    for name in ("root", "work", "workload", "cache", "out"):
        ap.add_argument(f"--{name}", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--spawn-t", type=float, required=True)
    ap.add_argument("--fault", default=None)
    args = ap.parse_args()
    sys.path.insert(0, args.root)

    spark, setup = setup_session(args.spawn_t, args.work)
    out: dict = {"setup": setup, "gen_s": None}
    if args.workload == "kernel":
        from perfbench import kernel as mod
    else:
        from perfbench import crawl as mod
    ref_path = os.path.join(args.cache, "reference.json")
    if not os.path.exists(ref_path):
        # inputs and reference for this (seed, size, sources): made once, then cached
        t0 = time.monotonic()
        tmp = args.cache + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        ref = mod.generate(spark, args.seed, tmp)
        with open(os.path.join(tmp, "reference.json"), "w") as f:
            json.dump(ref, f)
        shutil.rmtree(args.cache, ignore_errors=True)
        os.rename(tmp, args.cache)
        out["gen_s"] = time.monotonic() - t0
    with open(ref_path) as f:
        ref = json.load(f)
    if args.trace:
        out.update(run_traced(mod, spark, args, args.cache, ref, setup))
    else:
        out.update(mod.measure(spark, args.cache, ref, args.seed, args.work,
                               args.seconds, args.fault))
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
