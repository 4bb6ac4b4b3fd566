"""``kernel`` workload: one schedule-and-dedup pass over a raw frontier.

Inputs (per seed, cached): a raw synthetic frontier of N URLs from
``operators.frontier_gen`` (power-law hosts, 30% volatile params), a seen
table that holds 2/3 of the frontier's URLs plus synthetic keys the
frontier never holds (enough to fill the default Bloom filter to the load
where false positives show), and a robots table. A pass runs, in order:
``canonicalize_udf``, ``host_from_canonical_col``, ``url_hash_col``,
``build_bloom_shards`` + ``not_seen_bloom``, ``schedule_wave`` — and is
verified against the
exact-only reference (``not_seen_exact``, with virtual time recomputed in
pandas from the CrawlConfig formula, independent of ``operators.politeness``).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warc_bench_spark.config import CrawlConfig
from warc_bench_spark.functions.urls import (
    canonicalize_udf,
    host_from_canonical_col,
    url_hash_col,
)
from warc_bench_spark.operators.dedup import (
    bloom_maybe_udf,
    build_bloom_shards,
    hex_slices_u64,
    is_binary_key,
    not_seen_bloom,
    not_seen_exact,
)
from warc_bench_spark.operators.frontier_gen import synthetic_frontier
from warc_bench_spark.operators.politeness import schedule_wave

from perfbench.sizes import KERNEL as SIZES

ROBOTS_DELAYS = [250, 500, 1000, 2000, 3000]
# few enough hosts that the head host holds more than the default
# hot_host_threshold (5000) fresh URLs, so the skew-split rank
# runs: under frontier_gen's u**3 popularity host 0 draws 20**(-1/3) = 37%
N_HOSTS = 20
# passes per run: a fixed count, not a clock loop, so a faster commit does
# not also get more warm passes
WARMUP_PASSES = 2
TIMED_PASSES = 3


def config(seed: int) -> CrawlConfig:
    return CrawlConfig(seed=seed)


def _identity(df: DataFrame, cfg: CrawlConfig) -> tuple[DataFrame, DataFrame]:
    """raw url -> (canonicalized frame, full identity frame)."""
    keep = [c for c in df.columns if c not in ("url", "id")]
    canon = df.select(canonicalize_udf("url").alias("canonical_url"), *keep)
    ident = (
        canon.filter(F.col("canonical_url").isNotNull())
        .withColumn("host", host_from_canonical_col(F.col("canonical_url")))
        .withColumn(
            "url_hash", url_hash_col(F.col("canonical_url"), binary=cfg.binary_url_hash)
        )
    )
    return canon, ident


def _hex(df: DataFrame) -> F.Column:
    return F.lower(F.hex("url_hash")) if is_binary_key(df) else F.col("url_hash")


def summarize(df: DataFrame) -> dict:
    """Order-free digest of a schedule: count, Σvt, key-set and (key, vt)
    digests (sums of xxhash64 in DECIMAL, so no overflow under ANSI)."""
    d = df.select(_hex(df).alias("h"), F.col("vt").cast("long").alias("vt"))
    dec = "decimal(38,0)"
    row = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("vt").cast(dec)).alias("sum_vt"),
        F.sum(F.xxhash64("h").cast(dec)).alias("keys"),
        F.sum(F.xxhash64("h", "vt").cast(dec)).alias("pairs"),
    ).collect()[0]
    return {"n": int(row["n"]), "sum_vt": str(row["sum_vt"]),
            "keys": str(row["keys"]), "pairs": str(row["pairs"])}


def generate(spark: SparkSession, seed: int, out: str) -> dict:
    """Write frontier/seen/robots parquet and the reference into ``out``."""
    cfg = config(seed)
    n = SIZES["n_frontier"]
    synthetic_frontier(spark, n, n_hosts=N_HOSTS, seed=seed).write.parquet(
        os.path.join(out, "frontier"))
    frontier = spark.read.parquet(os.path.join(out, "frontier"))
    _, known = _identity(frontier.filter(F.col("id") % 3 != 0), cfg)
    # keys of URLs the frontier never holds, hashed like the engine's keys
    other_url = F.format_string(
        "https://seen%03d.s%d.example.org/p/%d", F.col("id") % 1000, F.lit(seed), F.col("id"))
    other = spark.range(0, SIZES["n_seen"] - 2 * n // 3).select(
        url_hash_col(other_url, binary=cfg.binary_url_hash).alias("url_hash"))
    known.select("url_hash").unionByName(other).write.parquet(os.path.join(out, "seen"))
    robots = spark.range(0, N_HOSTS).filter(F.col("id") % 3 == 0).select(
        F.format_string("host%05d.bench.example.com", F.col("id")).alias("host"),
        F.element_at(
            F.array(*[F.lit(d) for d in ROBOTS_DELAYS]), (F.col("id") % 5).cast("int") + 1
        ).cast("int").alias("crawl_delay_ms"),
    )
    robots.write.parquet(os.path.join(out, "robots"))
    ref = reference(spark, out, cfg)
    ref["n"] = n
    return ref


def _read(spark: SparkSession, inp: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    return tuple(spark.read.parquet(os.path.join(inp, t)) for t in ("frontier", "seen", "robots"))


def reference(spark: SparkSession, inp: str, cfg: CrawlConfig) -> dict:
    """Exact-only dedup; vt recomputed in pandas from the CrawlConfig rule."""
    frontier, seen, robots = _read(spark, inp)
    _, ident = _identity(frontier, cfg)
    fresh = not_seen_exact(ident, seen)
    pdf = fresh.select(_hex(fresh).alias("h"), "host", "priority").toPandas()
    delays = dict(robots.select("host", "crawl_delay_ms").toPandas().itertuples(index=False))
    pdf = pdf.sort_values(["host", "priority", "h"], kind="mergesort")
    k = pdf.groupby("host", sort=False).cumcount().to_numpy(dtype=np.int64)
    d = pdf["host"].map(delays).fillna(cfg.default_delay_ms).to_numpy(dtype=np.int64)
    vt = np.maximum(k * d, (k // cfg.window_limit) * cfg.window_ms)
    ref_df = spark.createDataFrame(pd.DataFrame({"url_hash": pdf["h"].to_numpy(), "vt": vt}))
    out = {"summary": summarize(ref_df), "fresh": int(len(pdf))}
    out["seen_rows"] = seen.count()
    return out


def _plant_false_negative(shards: dict, ident: DataFrame, seen: DataFrame, cfg) -> dict:
    """Clear the Bloom bits of one frontier URL that IS seen, so the probe
    reports it as definitely-new and it bypasses the exact anti-join."""
    key = ident.join(seen.select("url_hash"), "url_hash").select("url_hash").first()[0]
    binary = is_binary_key(ident)
    h1, h2 = hex_slices_u64(pd.Series([bytes(key) if binary else key]), binary)
    h2 = h2 | np.uint64(1)
    m = np.uint64(cfg.bloom_bits_per_shard)
    sid = int(h1[0] % np.uint64(cfg.bloom_shards))
    bits = np.frombuffer(shards[sid], dtype=np.uint8).copy()
    for i in range(cfg.bloom_hashes):
        pos = int((h1[0] + np.uint64(i) * h2[0]) % m)
        bits[pos // 8] &= np.uint8(~(1 << (pos % 8)) & 0xFF)
    return {**shards, sid: bits.tobytes()}


def _plant_output_fault(sched: DataFrame, fault: str | None) -> DataFrame:
    if fault not in ("drop_row", "alter_vt"):
        return sched
    victim = sched.select("url_hash").orderBy("url_hash").first()["url_hash"]
    hit = F.col("url_hash") == F.lit(victim)
    if fault == "drop_row":
        return sched.filter(~hit)
    return sched.withColumn("vt", F.when(hit, F.col("vt") + 1).otherwise(F.col("vt")))


def one_pass(spark: SparkSession, inp: str, cfg: CrawlConfig, fault: str | None = None) -> dict:
    frontier, seen, robots = _read(spark, inp)
    _, ident = _identity(frontier, cfg)
    shards = build_bloom_shards(seen, cfg)
    if fault == "bloom_fn":
        shards = _plant_false_negative(shards, ident, seen, cfg)
    fresh = not_seen_bloom(spark, ident, seen, cfg, shards=shards).persist()
    try:
        sched = schedule_wave(fresh, robots, cfg)
        return summarize(_plant_output_fault(sched, fault))
    finally:
        fresh.unpersist()


def measure(spark, inp: str, ref: dict, seed: int, work: str,
            seconds: float, fault=None) -> dict:
    """Untraced timed region: untimed warm-up passes, then a fixed number
    of timed passes, each verified; ``run_s`` is their median. ``seconds``
    is unused: the pass count is fixed."""
    cfg = config(seed)
    # the first passes in a fresh JVM pay JIT and first-use costs the later
    # passes do not
    for _ in range(WARMUP_PASSES):
        one_pass(spark, inp, cfg)
    passes, failed, raised = [], 0, 0
    t_start = time.monotonic()
    for _ in range(TIMED_PASSES):
        t0 = time.monotonic()
        try:
            ok = one_pass(spark, inp, cfg, fault) == ref["summary"]
        except Exception as exc:  # an operation that raised counts as failed
            print(f"kernel pass raised: {exc!r}", flush=True)
            ok = False
            raised += 1
        passes.append(time.monotonic() - t0)
        failed += not ok
    run_s = statistics.median(passes)
    return {
        "timed": [t_start, time.monotonic()],
        "attempted": len(passes),
        "failed": failed,
        "raised": raised,
        "passes_s": passes,
        "metrics": {
            "run_s": run_s,
            "urls_per_s": ref["n"] / run_s,
            "wave_s_p50": run_s,
            "state_mb": _dir_mb(os.path.join(inp, "seen")),
        },
    }


def _dir_mb(path: str) -> float:
    total = 0
    for root, _d, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced(spark, inp: str, ref: dict, seed: int, work: str, tracer,
           fault=None) -> dict:
    """One instrumented pass (the traced run_s), then cumulative noop-sink
    cuts after each layer call; a layer's self time is the difference
    between consecutive cuts. Every cut's jobs carry the layer's group."""
    from pyspark.sql import Observation

    cfg = config(seed)
    for _ in range(WARMUP_PASSES):  # the same untimed warm-up as the untraced run
        one_pass(spark, inp, cfg)
    with tracer.span("kernel.pass", group="kernel.pass") as sp:
        ok = one_pass(spark, inp, cfg, fault) == ref["summary"]
    run_s = sp["end"] - sp["start"]

    frontier, seen, robots = _read(spark, inp)
    o_canon, o_flag, o_fresh = (Observation() for _ in range(3))
    canon, _ = _identity(frontier, cfg)
    canon = canon.observe(
        o_canon, F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("canonical_url").isNull(), 1)).alias("null"),
    )
    _, ident = _identity(frontier, cfg)
    cuts: dict[str, float] = {}

    def cut(name: str, df: DataFrame) -> float:
        with tracer.span(f"cut.{name}", group=name) as s:
            _noop(df)
        cuts[name] = s["end"] - s["start"]
        return cuts[name]

    cut("scan", frontier)
    cut("urls.canonicalize", canon)
    cut("urls.identity", ident)
    with tracer.span("cut.dedup.bloom_build", group="dedup.bloom_build") as s:
        shards = build_bloom_shards(seen, cfg)
    cuts["dedup.bloom_build"] = s["end"] - s["start"]
    maybe = bloom_maybe_udf(spark, shards, cfg, binary=is_binary_key(ident))
    flagged = ident.withColumn("_maybe", maybe(F.col("url_hash")))
    cut("dedup.probe", flagged.observe(
        o_flag, F.count(F.lit(1)).alias("n"), F.count(F.when(F.col("_maybe"), 1)).alias("maybe")
    ))
    fresh = not_seen_bloom(spark, ident, seen, cfg, shards=shards)
    fresh = fresh.observe(o_fresh, F.count(F.lit(1)).alias("n")).persist()
    cut("dedup.antijoin", fresh)
    sched = schedule_wave(fresh, robots, cfg)
    cut("politeness.rank", sched)
    hot = fresh.groupBy("host").count().filter(F.col("count") > cfg.hot_host_threshold).count()
    fresh.unpersist()

    self_s = {
        "scan": cuts["scan"],
        "urls.canonicalize": cuts["urls.canonicalize"] - cuts["scan"],
        "urls.identity": cuts["urls.identity"] - cuts["urls.canonicalize"],
        "dedup.bloom_build": cuts["dedup.bloom_build"],
        "dedup.probe": cuts["dedup.probe"] - cuts["urls.identity"],
        "dedup.antijoin": cuts["dedup.antijoin"] - cuts["dedup.probe"],
        # fresh is persisted by the antijoin cut, so the rank cut is self time
        "politeness.rank": cuts["politeness.rank"],
    }
    n_cand = int(o_flag.get["n"])
    n_maybe = int(o_flag.get["maybe"])
    n_fresh = int(o_fresh.get["n"])
    fp = n_fresh - (n_cand - n_maybe)
    counts = {
        "urls.rows_in": int(o_canon.get["n"]),
        "urls.rows_dropped": int(o_canon.get["null"]),
        "dedup.maybe_ratio": n_maybe / max(n_cand, 1),
        "dedup.fp_rate": fp / max(n_fresh, 1),
        "dedup.fresh_ratio": n_fresh / max(n_cand, 1),
        "politeness.hot_hosts": hot,
    }
    return {"ok": [ok], "run_s": run_s, "self_s": self_s, "counts": counts,
            "pass_group": "kernel.pass"}
