"""Binary url_hash key equivalence (the ``CrawlConfig.binary_url_hash`` carry).

The kernel can carry url_hash as unhex(sha256) BINARY instead of the
64-char hex string (bench.py) — a pure re-encode. These tests pin the
invariant that makes that safe: unsigned byte order == lowercase-hex
order, so ranking, salting (byte-prefix vs nibble-prefix), dedup
anti-join, and virtual time are all unchanged.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from warc_bench_spark.config import CrawlConfig
from warc_bench_spark.operators.dedup import not_seen_exact
from warc_bench_spark.operators.politeness import schedule_wave

CFG = CrawlConfig(seed=7, hot_host_threshold=20, default_delay_ms=100, window_limit=5)


def _skewed_candidates(spark):
    # one host with 120 URLs (over the hot threshold -> split path), a few
    # cold hosts; urls deterministic
    rows = [(f"https://hot.example/p{i}", "hot.example", i % 3) for i in range(120)]
    for h in range(4):
        rows += [
            (f"https://cold{h}.example/p{i}", f"cold{h}.example", i % 3)
            for i in range(10)
        ]
    df = spark.createDataFrame(rows, "canonical_url string, host string, priority int")
    return df.withColumn("url_hash", F.sha2("canonical_url", 256))


def _schedule(spark, cand, binary: bool):
    if binary:
        cand = cand.withColumn("url_hash", F.unhex("url_hash"))
    robots = spark.createDataFrame(
        [("hot.example", 50)], "host string, crawl_delay_ms int"
    )
    out = schedule_wave(cand, robots, CFG)
    return sorted(
        (r["canonical_url"], r["k"], r["vt"]) for r in out.collect()
    )


def test_binary_key_schedule_identical_to_hex(spark):
    cand = _skewed_candidates(spark)
    assert _schedule(spark, cand, binary=False) == _schedule(spark, cand, binary=True)


def test_binary_key_anti_join_identical(spark):
    cand = _skewed_candidates(spark)
    seen = cand.limit(40).select("url_hash")
    hex_out = {
        r["canonical_url"] for r in not_seen_exact(cand, seen).collect()
    }
    cand_b = cand.withColumn("url_hash", F.unhex("url_hash"))
    seen_b = seen.withColumn("url_hash", F.unhex("url_hash"))
    bin_out = {
        r["canonical_url"] for r in not_seen_exact(cand_b, seen_b).collect()
    }
    assert hex_out == bin_out and len(hex_out) == 160 - 40


# ---------------------------------------------------------------- engine
# Round 7 adopts the binary carry ENGINE-WIDE (cfg.binary_url_hash,
# default on). These tests pin the two invariants CLAUDE.md marks as
# load-bearing for that adoption: golden equality under either encoding,
# and Bloom-shard encoding-independence across a mixed-encoding resume
# (stale-stamp exactness must survive the switch).

import dataclasses
from collections import Counter

from warc_bench_spark.operators.crawl import CrawlEngine
from warc_bench_spark.simulator import simulate_crawl
from warc_bench_spark.synth import generate_corpus, write_corpus

ENG_CFG = CrawlConfig(
    seed=901,
    n_urls=400,
    n_hosts=10,
    n_seeds=12,
    budget_per_wave=80,
    max_waves=4,
    binary_url_hash=True,
)


def _golden_setup(spark, tmp_path):
    corpus = generate_corpus(ENG_CFG)
    d = str(tmp_path / "corpus")
    write_corpus(spark, corpus, d)
    return corpus, d


def _assert_golden(eng, golden):
    got = [
        (r["seq"], r["wave"], r["canonical_url"], r["host"], r["vt"], r["priority"])
        for r in eng.crawl_log().collect()
    ]
    assert got == [tuple(row) for row in golden.crawl_log]
    seen = Counter((r["url_hash"], r["wave"]) for r in eng.url_seen().collect())
    assert seen == Counter(golden.url_seen.items())
    # the public reader exposes hex even though the carry is binary
    assert all(isinstance(k[0], str) and len(k[0]) == 64 for k in seen)


def test_engine_golden_under_both_encodings(spark, tmp_path):
    """CrawlEngine == simulator under binary AND hex key carries (Bloom
    prefilter on, so the shard build/probe runs over both encodings)."""
    corpus, corpus_dir = _golden_setup(spark, tmp_path)
    golden = simulate_crawl(corpus, ENG_CFG)
    for binary in (True, False):
        cfg = dataclasses.replace(ENG_CFG, binary_url_hash=binary)
        eng = CrawlEngine(
            spark, cfg, corpus_dir, str(tmp_path / f"state_{binary}")
        )
        eng.run()
        _assert_golden(eng, golden)


def test_resume_across_encodings(spark, tmp_path):
    """Run 2 waves with the hex carry, resume with the binary carry from
    the same snapshot: _coerce_key re-encodes the persisted frontier and
    url_seen, and the wave-stamped Bloom shards built from HEX keys are
    probed with BINARY keys (same 60-bit slices -> same bit positions —
    a false negative here would re-admit a seen URL and break the golden
    order, so this is the Bloom-exactness invariant under the switch)."""
    corpus, corpus_dir = _golden_setup(spark, tmp_path)
    golden = simulate_crawl(corpus, ENG_CFG)
    state = str(tmp_path / "state_mixed")

    cfg_hex = dataclasses.replace(ENG_CFG, binary_url_hash=False)
    eng1 = CrawlEngine(spark, cfg_hex, corpus_dir, state)
    eng1.run(max_waves=2)
    assert eng1.store.latest()["next_wave"] == 2
    del eng1

    cfg_bin = dataclasses.replace(ENG_CFG, binary_url_hash=True)
    eng2 = CrawlEngine(spark, cfg_bin, corpus_dir, state)
    eng2.run()
    _assert_golden(eng2, golden)


def test_compaction_switches_stored_encoding(spark, tmp_path):
    """The append-table discipline end-to-end: a binary-cfg resume of a
    hex-keyed state APPENDS deltas in the table's stored encoding (hex —
    a mixed-encoding parquet table would read back silently wrong), and
    only the next compaction rewrite switches the stored table to the
    cfg encoding. Golden equality must hold across the whole dance."""
    from pyspark.sql.types import BinaryType, StringType

    corpus, corpus_dir = _golden_setup(spark, tmp_path)
    cfg_hex = dataclasses.replace(ENG_CFG, binary_url_hash=False, compact_every=2)
    golden = simulate_crawl(corpus, cfg_hex)
    state = str(tmp_path / "state_switch")

    eng1 = CrawlEngine(spark, cfg_hex, corpus_dir, state)
    eng1.run(max_waves=2)  # wave 1 compacts -> stored hex
    assert isinstance(
        eng1.store.read_table(spark, "url_seen").schema["url_hash"].dataType,
        StringType,
    )
    del eng1

    cfg_bin = dataclasses.replace(ENG_CFG, binary_url_hash=True, compact_every=2)
    eng2 = CrawlEngine(spark, cfg_bin, corpus_dir, state)
    eng2.run(max_waves=3)  # wave 2 appends: MUST stay hex on disk
    assert isinstance(
        eng2.store.read_table(spark, "url_seen").schema["url_hash"].dataType,
        StringType,
    )
    eng2.run()  # wave 3 compacts: the rewrite switches the table to binary
    assert isinstance(
        eng2.store.read_table(spark, "url_seen").schema["url_hash"].dataType,
        BinaryType,
    )
    _assert_golden(eng2, golden)


def test_slices_parity_binary_vs_hex():
    """hex_slices_u64 yields identical (h1, h2) from the hex string and
    from the unhexed 32-byte digest — the fact that makes persisted
    Bloom shards encoding-independent."""
    import hashlib

    import pandas as pd

    from warc_bench_spark.operators.dedup import hex_slices_u64

    digests = [hashlib.sha256(f"u{i}".encode()).digest() for i in range(257)]
    hx = pd.Series([d.hex() for d in digests])
    bi = pd.Series(digests)
    h1x, h2x = hex_slices_u64(hx)
    h1b, h2b = hex_slices_u64(bi)
    assert (h1x == h1b).all() and (h2x == h2b).all()
    assert int(h1x[0]) == int(digests[0].hex()[:15], 16)
    assert int(h2x[0]) == int(digests[0].hex()[15:30], 16)


def test_binary_order_matches_hex_order(spark):
    """The load-bearing fact: sorting by the BINARY key yields exactly the
    hex-string sort order (lowercase hex is a monotone byte encoding)."""
    cand = _skewed_candidates(spark)
    hex_sorted = [
        r["canonical_url"]
        for r in cand.orderBy("url_hash").select("canonical_url").collect()
    ]
    bin_sorted = [
        r["canonical_url"]
        for r in cand.withColumn("url_hash", F.unhex("url_hash"))
        .orderBy("url_hash")
        .select("canonical_url")
        .collect()
    ]
    assert hex_sorted == bin_sorted
