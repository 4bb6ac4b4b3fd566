"""Bloom shard exactness discipline (SURVEY §7.4 item 4) and the
incremental BloomStore."""

from warc_bench_spark.config import CrawlConfig
from warc_bench_spark.functions.urls import sha256_hex
from warc_bench_spark.operators.dedup import (
    BloomStore,
    bloom_maybe_udf,
    build_bloom_shards,
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
    from pyspark.sql import functions as F

    misses = seen.select(maybe(F.col("url_hash")).alias("m")).filter(~F.col("m"))
    assert misses.count() == 0


def test_bloom_prefilter_equals_exact(spark):
    seen = _hashes_df(spark, 0, 1500)
    cand = _hashes_df(spark, 1000, 1500)  # 500 overlap, 1000 fresh
    got_bloom = {
        r["url_hash"] for r in not_seen_bloom(spark, cand, seen, CFG).collect()
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
