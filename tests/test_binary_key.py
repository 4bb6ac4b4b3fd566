"""Binary url_hash key equivalence.

The engine keys every URL on unhex(sha256), the 32-byte digest
(``url_identity``), while the simulator and the query plans use the
64-char hex string — a pure re-encode. These tests pin the invariant that
makes the two agree: unsigned byte order == lowercase-hex order, so
ranking, salting (byte-prefix vs nibble-prefix), dedup anti-join, virtual
time and Bloom bit positions are all unchanged.
"""

from __future__ import annotations

import dataclasses

import pytest
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


def test_slices_parity_binary_vs_hex():
    """hex_slices_u64 yields identical (h1, h2) from the hex string and
    from the unhexed 32-byte digest — the hex branch is the reference
    for the bit layout of the engine's Bloom shards."""
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


def test_binary_url_hash_is_not_a_setting():
    """The binary key is the only encoding: the flag is a read-only class
    attribute, not a field a caller could turn off."""
    assert CrawlConfig.binary_url_hash is True
    assert CFG.binary_url_hash is True
    assert "binary_url_hash" not in {f.name for f in dataclasses.fields(CrawlConfig)}
    with pytest.raises(TypeError):
        CrawlConfig(binary_url_hash=False)
