"""Bloom shard exactness discipline (SURVEY §7.4 item 4), the shard bit
layout, single evaluation of the candidates, and the incremental
BloomStore."""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from warc_bench_spark.config import CrawlConfig
from warc_bench_spark.functions.urls import sha256_hex
from warc_bench_spark.operators.dedup import (
    BloomStore,
    bloom_maybe_udf,
    build_bloom_shards,
    collect_bloom_shards,
    not_seen_bloom,
    not_seen_exact,
)

CFG = CrawlConfig(bloom_shards=4, bloom_bits_per_shard=1 << 16, bloom_hashes=3)


def _hashes_df(spark, start, n):
    rows = [(sha256_hex(f"url-{i}"), f"https://u/{i}") for i in range(start, start + n)]
    return spark.createDataFrame(rows, "url_hash string, canonical_url string")


def test_bloom_no_false_negatives(spark):
    """Every member of the seen set must probe 'maybe' — false negatives
    would silently re-admit crawled URLs."""
    seen = _hashes_df(spark, 0, 2000)
    shards = build_bloom_shards(seen, CFG)
    maybe = bloom_maybe_udf(spark, shards, CFG)
    misses = seen.select(maybe(F.col("url_hash")).alias("m")).filter(~F.col("m"))
    assert misses.count() == 0


def test_bloom_prefilter_equals_exact(spark):
    seen = _hashes_df(spark, 0, 1500)
    cand = _hashes_df(spark, 1000, 1500)  # 500 overlap, 1000 fresh
    got_bloom = {
        r["url_hash"]
        for r in not_seen_bloom(
            spark, cand, seen, CFG, shards=build_bloom_shards(seen, CFG)
        ).collect()
    }
    got_exact = {r["url_hash"] for r in not_seen_exact(cand, seen).collect()}
    assert got_bloom == got_exact
    assert len(got_exact) == 1000


def test_bloom_store_incremental_equals_full(spark, tmp_path):
    d1 = _hashes_df(spark, 0, 800)
    d2 = _hashes_df(spark, 800, 700)
    store = BloomStore(str(tmp_path), CFG)

    s0, stamp0 = store.load(up_to_wave=10)
    assert (s0, stamp0) == ({}, -1)
    s1 = store.update({}, d1, wave=0)
    s2 = store.update(s1, d2, wave=1)

    full = build_bloom_shards(d1.unionByName(d2), CFG)
    assert set(s2.keys()) == set(full.keys())
    assert all(s2[k] == full[k] for k in full)

    loaded, stamp = store.load(up_to_wave=1)
    assert stamp == 1 and loaded == s2
    # the wave-1 write deleted the wave-0 file: nothing covers wave 0 alone
    assert store.load(up_to_wave=0) == ({}, -1)


def _keyed_df(spark, start, n, binary, canon=None):
    """Candidates keyed like the engine's: url_hash is sha256 of the
    canonical URL, itself the output of the ``canon`` pandas UDF if given."""
    df = spark.createDataFrame(
        [(f"https://u/{i}",) for i in range(start, start + n)], "canonical_url string"
    )
    if canon is not None:
        df = df.select(canon("canonical_url").alias("canonical_url"))
    h = F.sha2("canonical_url", 256)
    return df.select((F.unhex(h) if binary else h).alias("url_hash"), "canonical_url")


def _reference_shards(hexes, cfg):
    """Per-key pure-Python bit layout: shard h1 % n, bit pos % 8 of byte
    pos // 8, pos_i = (h1 + i*h2) % m — independent of the numpy build."""
    m, n = cfg.bloom_bits_per_shard, cfg.bloom_shards
    out = {}
    for h in hexes:
        h1 = int(h[:15], 16)
        h2 = int(h[15:30], 16) | 1
        bits = out.setdefault(h1 % n, bytearray(m // 8))
        for i in range(cfg.bloom_hashes):
            pos = (h1 + i * h2) % m
            bits[pos // 8] |= 1 << (pos % 8)
    return {s: bytes(b) for s, b in out.items()}


# a bitmap of 4096 + 40 bytes: one full 4 KB aggregation chunk plus a part
ODD = CrawlConfig(bloom_shards=3, bloom_bits_per_shard=8 * (4096 + 40), bloom_hashes=5)


@pytest.mark.parametrize("cfg", [CFG, ODD], ids=["2^16-bits", "odd-bits"])
@pytest.mark.parametrize("binary", [False, True])
def test_bloom_shard_bit_layout(spark, binary, cfg):
    """The shard bytes are pinned key by key, so shard files written by
    an earlier build of the filter still load and probe correctly."""
    seen = _keyed_df(spark, 0, 3000, binary).repartition(6)
    assert seen.rdd.getNumPartitions() >= 5
    hexes = [sha256_hex(f"https://u/{i}") for i in range(3000)]
    assert build_bloom_shards(seen, cfg) == _reference_shards(hexes, cfg)
    empty = spark.createDataFrame([], "url_hash binary" if binary else "url_hash string")
    assert build_bloom_shards(empty, cfg) == {}


@pytest.mark.parametrize("cfg", [CFG, ODD], ids=["2^16-bits", "odd-bits"])
@pytest.mark.parametrize("binary", [False, True])
def test_collect_bloom_shards_equals_build(spark, tmp_path, binary, cfg):
    """The driver-side delta build (BloomStore.update's) sets exactly the
    bits build_bloom_shards sets, so shard files stay byte-identical."""
    for start, n in ((0, 3000), (0, 0), (5000, 2)):
        df = _keyed_df(spark, start, n, binary).repartition(4)
        got = collect_bloom_shards(df, cfg)
        assert got == build_bloom_shards(df, cfg), (start, n)
        assert len(got) <= n

    base = build_bloom_shards(_keyed_df(spark, 0, 3000, binary), cfg)
    merged = BloomStore(str(tmp_path), cfg).update(
        base, _keyed_df(spark, 5000, 2, binary), wave=0
    )
    assert set(base) <= set(merged)
    assert sum(merged[s] != base.get(s) for s in merged) <= 2


@pytest.mark.parametrize("binary", [False, True])
def test_not_seen_bloom_probes_once_and_equals_exact(spark, binary):
    """The candidate lineage runs once per not_seen_bloom action, and the
    result equals the exact anti-join when the filter is saturated enough
    to give false positives."""
    tiny = CrawlConfig(bloom_shards=4, bloom_bits_per_shard=256, bloom_hashes=3)
    seen = _keyed_df(spark, 0, 300, binary)
    shards = build_bloom_shards(seen, tiny)
    maybe = bloom_maybe_udf(spark, shards, tiny, binary=binary)
    never_seen = _keyed_df(spark, 1000, 200, binary)
    assert never_seen.filter(maybe(F.col("url_hash"))).count() > 0  # false positives

    for start, n in ((0, 200), (1000, 200), (200, 200)):  # all, none, some seen
        rows = spark.sparkContext.accumulator(0)

        @pandas_udf("string")
        def counted(u: pd.Series) -> pd.Series:
            rows.add(len(u))
            return u

        cand = _keyed_df(spark, start, n, binary, canon=counted)
        got = not_seen_bloom(spark, cand, seen, tiny, shards=shards).collect()
        assert rows.value == n, (start, rows.value)
        exact = not_seen_exact(_keyed_df(spark, start, n, binary), seen).collect()
        assert sorted(r["canonical_url"] for r in got) == sorted(
            r["canonical_url"] for r in exact
        )
