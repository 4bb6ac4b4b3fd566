"""``crawl`` workload: ``CrawlEngine.run`` over a ``synth_spark`` corpus.

Inputs (per seed, cached): a ``write_spark_corpus`` corpus and the
``simulate_crawl(SparkCorpusView(cfg), cfg)`` reference, stored as one
digest per wave of the crawl_log rows (seq, wave, canonical_url, host, vt,
priority) and of the url_seen keys. A crawl is bootstrap plus one
``run(max_waves=w+1)`` call per wave, each wave verified on its own.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from warc_bench_spark.config import CrawlConfig
from warc_bench_spark.functions.urls import (
    canonicalize_udf,
    host_from_canonical_col,
    url_hash_col,
)
from warc_bench_spark.operators import crawl as crawl_mod
from warc_bench_spark.operators import dedup as dedup_mod
from warc_bench_spark.operators.crawl import CrawlEngine
from warc_bench_spark.operators.dedup import BloomStore, bloom_maybe_udf, is_binary_key
from warc_bench_spark.simulator import simulate_crawl
from warc_bench_spark.state import SnapshotStore
from warc_bench_spark.synth_spark import SparkCorpusView, write_spark_corpus

from perfbench.sizes import CRAWL as SIZES

DELAY_MS = 100
FAULTS = ("drop_row", "alter_vt")


def config(seed: int) -> CrawlConfig:
    # corpus, budget, delay and wave-count fields only; engine fields stay default
    return CrawlConfig(seed=seed, default_delay_ms=DELAY_MS, **SIZES)


def _log_digest(rows) -> str:
    h = hashlib.sha256()
    for seq, wave, url, host, vt, prio in rows:
        h.update(f"{int(seq)}\t{int(wave)}\t{url}\t{host}\t{int(vt)}\t{int(prio)}\n".encode())
    return h.hexdigest()


def _seen_digest(hashes) -> str:
    return hashlib.sha256("\n".join(sorted(hashes)).encode()).hexdigest()


def generate(spark: SparkSession, seed: int, out: str) -> dict:
    cfg = config(seed)
    write_spark_corpus(spark, os.path.join(out, "corpus"), cfg)
    sim = simulate_crawl(SparkCorpusView(cfg), cfg)
    waves = []
    for w in range(sim.waves_run):
        rows = [r for r in sim.crawl_log if r[1] == w]
        if not rows:
            break
        keys = [h for h, sw in sim.url_seen.items() if sw == w]
        waves.append({"n": len(rows), "log": _log_digest(rows), "seen": _seen_digest(keys)})
    return {"waves": waves, "admitted": sum(w["n"] for w in waves),
            "frontier_left": sim.frontier_left}


def verify(eng: CrawlEngine, ref: dict) -> list[bool]:
    """Per wave: does the engine's crawl_log and url_seen match the reference?"""
    cols = ["seq", "wave", "canonical_url", "host", "vt", "priority"]
    log = eng.crawl_log().toPandas()
    seen = eng.url_seen().select("url_hash", "wave").toPandas()
    ok = []
    for w, want in enumerate(ref["waves"]):
        rows = log[log["wave"] == w][cols]
        ok.append(
            len(rows) == want["n"]
            and _log_digest(rows.itertuples(index=False)) == want["log"]
            and _seen_digest(seen.loc[seen["wave"] == w, "url_hash"]) == want["seen"]
        )
    return ok


@contextmanager
def planted(fault: str | None):
    """Corrupt each crawl_log delta on its way to the store (tests only)."""
    if fault not in FAULTS:
        yield
        return
    orig = SnapshotStore.write_table

    def write_table(self, name, df, wave, mode="append"):
        if name == "crawl_log":
            victim = F.col("seq") == F.lit(df.agg(F.min("seq")).first()[0])
            if fault == "drop_row":
                df = df.filter(~victim)
            else:
                df = df.withColumn("vt", F.when(victim, F.col("vt") + 1).otherwise(F.col("vt")))
        return orig(self, name, df, wave, mode)

    SnapshotStore.write_table = write_table
    try:
        yield
    finally:
        SnapshotStore.write_table = orig


def one_crawl(spark, inp: str, ref: dict, cfg: CrawlConfig, state: str, tracer=None) -> dict:
    """Bootstrap + one timed ``run(max_waves=w+1)`` per wave; every wave is
    then verified against the reference (a wave that raised fails)."""
    shutil.rmtree(state, ignore_errors=True)
    span = tracer.span if tracer else _nospan
    t0 = time.monotonic()
    eng = CrawlEngine(spark, cfg, os.path.join(inp, "corpus"), state, use_bloom=True)
    with span("crawl.bootstrap", group="crawl.bootstrap"):
        eng.bootstrap()
    waves_s, stats, ran = [], [], []
    for w in range(len(ref["waves"])):
        try:
            with span("wave", group=f"wave{w}", wave=w):
                tw = time.monotonic()
                got = eng.run(max_waves=w + 1)
                waves_s.append(time.monotonic() - tw)
            ran.append(len(got) == 1)
            stats += got
        except Exception as exc:  # a wave that raised counts as failed
            print(f"crawl wave {w} raised: {exc!r}", flush=True)
            ran.append(None)
    with span("bench.verify"):
        ok = [bool(r) and v for r, v in zip(ran, verify(eng, ref))]
    run_s = time.monotonic() - t0
    return {"run_s": run_s, "waves_s": waves_s, "ok": ok, "raised": ran.count(None),
            "stats": stats, "admitted": sum(s.admitted for s in stats),
            "state_mb": _dir_bytes(state)[1] / 1e6}


@contextmanager
def _nospan(*_a, **_k):
    yield {}


def _dir_bytes(path: str) -> tuple[int, int]:
    files = total = 0
    for root, _d, names in os.walk(path):
        for n in names:
            files += 1
            total += os.path.getsize(os.path.join(root, n))
    return files, total


def measure(spark, inp: str, ref: dict, seed: int, work: str,
            seconds: float, fault=None) -> dict:
    """Untraced timed region: one verified crawl. ``seconds`` is unused: a
    crawl is a fixed amount of work, not a clock loop."""
    cfg = config(seed)
    with planted(fault):
        t_start = time.monotonic()
        c = one_crawl(spark, inp, ref, cfg, os.path.join(work, "state"))
    return {
        "timed": [t_start, time.monotonic()],
        "attempted": len(c["ok"]),
        "failed": c["ok"].count(False),
        "raised": c["raised"],
        "waves_s": c["waves_s"],
        "metrics": {
            "run_s": c["run_s"],
            "urls_per_s": c["admitted"] / c["run_s"],
            "wave_s_p50": statistics.median(c["waves_s"]),
            "state_mb": c["state_mb"],
        },
    }


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Cuts:
    """Benchmark-side wrappers that add noop-sink cuts around the lazy
    layer calls inside a wave (outlink extraction, the Bloom prefilter and
    the politeness schedule), each in its own ``trace.*`` job group."""

    def __init__(self, tracer, cfg: CrawlConfig):
        self.tracer, self.cfg = tracer, cfg
        self.acc: dict[str, float] = {}

    def add(self, key: str, v: float) -> None:
        self.acc[key] = self.acc.get(key, 0.0) + v

    def cut(self, name: str, df: DataFrame, *aggs) -> tuple[float, dict]:
        obs = Observation()
        with self.tracer.span(f"trace.{name}", group=f"trace.{name}") as s:
            _noop(df.observe(obs, F.count(F.lit(1)).alias("n"), *aggs))
        return s["end"] - s["start"], obs.get

    def extract_outlinks(self, orig):
        def wrapped(docs):
            links = orig(docs)
            t_links, o = self.cut("extract", links)
            self.add("extract.s", t_links)
            self.add("extract.rows_out", o["n"])
            canon = links.select(canonicalize_udf("raw_url").alias("canonical_url"))
            t_canon, o = self.cut(
                "urls.canonicalize", canon,
                F.count(F.when(F.col("canonical_url").isNull(), 1)).alias("null"))
            self.add("urls.canonicalize_s", t_canon - t_links)
            self.add("urls.rows_in", o["n"])
            self.add("urls.rows_dropped", o["null"])
            url = F.col("canonical_url")
            ident = (canon.filter(url.isNotNull())
                     .withColumn("host", host_from_canonical_col(url))
                     .withColumn("url_hash", url_hash_col(url, binary=self.cfg.binary_url_hash)))
            t_ident, _ = self.cut("urls.identity", ident)
            self.add("urls.identity_s", t_ident - t_canon)
            return links
        return wrapped

    def not_seen_bloom(self, orig):
        def wrapped(spark, candidates, seen, cfg, shards=None):
            res = orig(spark, candidates, seen, cfg, shards=shards)
            if shards:
                t_scan, _ = self.cut("dedup.scan", candidates)
                maybe = bloom_maybe_udf(spark, shards, cfg, binary=is_binary_key(candidates))
                t_probe, o = self.cut(
                    "dedup.probe", candidates.withColumn("_maybe", maybe(F.col("url_hash"))),
                    F.count(F.when(F.col("_maybe"), 1)).alias("maybe"))
                t_all, o2 = self.cut("dedup.antijoin", res)
                self.add("dedup.probe_s", t_probe - t_scan)
                self.add("dedup.antijoin_s", t_all - t_probe)
                self.add("dedup.cand", o["n"])
                self.add("dedup.maybe", o["maybe"])
                self.add("dedup.fresh", o2["n"])
            return res
        return wrapped

    def schedule_wave(self, orig):
        def wrapped(candidates, robots, cfg, **kw):
            sched = orig(candidates, robots, cfg, **kw)
            # candidates are persisted by the engine: this cut fills the
            # cache, so the next cut is the rank alone
            self.cut("politeness.input", candidates)
            t_rank, _ = self.cut("politeness.rank", sched)
            self.add("politeness.rank_s", t_rank)
            hot = kw.get("hot_hosts")
            if hot is not None:
                self.acc["politeness.hot_hosts"] = max(
                    self.acc.get("politeness.hot_hosts", 0), hot.count())
            return sched
        return wrapped


@contextmanager
def _patched(pairs):
    saved = [(o, a, getattr(o, a)) for o, a, _ in pairs]
    for o, a, v in pairs:
        setattr(o, a, v)
    try:
        yield
    finally:
        for o, a, v in saved:
            setattr(o, a, v)


def traced(spark, inp: str, ref: dict, seed: int, work: str, tracer,
           fault=None) -> dict:
    """One crawl with timing wrappers on the public eager methods and
    noop-sink cuts around the lazy layer calls; WaveStats.phases too."""
    cfg = config(seed)
    cuts = _Cuts(tracer, cfg)

    def timed(owner, attr, name):
        orig = getattr(owner, attr)

        def wrapped(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)
        return (owner, attr, wrapped)

    state = os.path.join(work, "state")
    with planted(fault):  # before the wrappers, so they wrap the fault too
        pairs = [
            timed(SnapshotStore, "write_table", "state.write_table"),
            timed(SnapshotStore, "write_local_table", "state.write_local_table"),
            timed(SnapshotStore, "publish", "state.publish"),
            timed(SnapshotStore, "latest", "state.latest"),
            timed(BloomStore, "load", "dedup.store_load"),
            timed(BloomStore, "update", "dedup.store_update"),
            timed(dedup_mod, "build_bloom_shards", "dedup.bloom_build"),
            (crawl_mod, "extract_outlinks", cuts.extract_outlinks(crawl_mod.extract_outlinks)),
            (crawl_mod, "not_seen_bloom", cuts.not_seen_bloom(crawl_mod.not_seen_bloom)),
            (crawl_mod, "schedule_wave", cuts.schedule_wave(crawl_mod.schedule_wave)),
        ]
        with _patched(pairs), tracer.span("crawl.run") as sp:
            c = one_crawl(spark, inp, ref, cfg, state, tracer)
    files, nbytes = _dir_bytes(state)
    phases: dict[str, float] = {}
    for s in c["stats"]:
        for k, v in s.phases.items():
            phases[k] = phases.get(k, 0.0) + v
    return {"ok": c["ok"], "run_s": sp["end"] - sp["start"], "crawl": c, "phases": phases,
            "acc": cuts.acc, "files": files, "bytes": nbytes, "n_waves": len(c["waves_s"])}
