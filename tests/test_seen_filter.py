"""The engine's one URL-seen filter: BloomStore's stamp gate, its geometry
check, its bounded file set and its loud degrade paths — each resumed
crawl checked against the simulator — plus where the wave runs it (on the
discovered URLs, once per wave) and the invariant that placement keeps
(the frontier never holds a seen URL)."""

import dataclasses
import os
import warnings
from collections import Counter

import pytest

from warc_bench_spark.config import CrawlConfig
from warc_bench_spark.functions.urls import sha256_hex
from warc_bench_spark.operators import crawl as crawl_mod
from warc_bench_spark.operators.crawl import CrawlEngine
from warc_bench_spark.operators.dedup import BloomStore, build_bloom_shards
from warc_bench_spark.simulator import simulate_crawl
from warc_bench_spark.synth import generate_corpus, write_corpus

CFG = CrawlConfig(
    seed=1234,
    n_urls=500,
    n_hosts=12,
    n_seeds=15,
    budget_per_wave=80,
    max_waves=5,
)
SMALL = CrawlConfig(bloom_shards=2, bloom_bits_per_shard=1 << 16, bloom_hashes=3)


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(CFG)


@pytest.fixture(scope="module")
def corpus_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus_seen_filter"))
    write_corpus(spark, corpus, d)
    return d


@pytest.fixture(scope="module")
def golden(corpus):
    return simulate_crawl(corpus, CFG)


def _hashes_df(spark, start, n):
    rows = [(sha256_hex(f"url-{i}"), f"https://u/{i}") for i in range(start, start + n)]
    return spark.createDataFrame(rows, "url_hash string, canonical_url string")


def _assert_golden(eng, golden):
    got = [(r["seq"], r["canonical_url"]) for r in eng.crawl_log().collect()]
    assert got == [(s, c) for (s, _w, c, _h, _v, _p) in golden.crawl_log]
    seen = Counter((r["url_hash"], r["wave"]) for r in eng.url_seen().collect())
    assert seen == Counter(golden.url_seen.items())


@pytest.mark.parametrize(
    "field,value",
    [("bloom_shards", 4), ("bloom_bits_per_shard", 1 << 17), ("bloom_hashes", 4)],
)
def test_store_geometry_mismatch_is_stale(spark, tmp_path, field, value):
    BloomStore(str(tmp_path), SMALL).update({}, _hashes_df(spark, 0, 300), wave=0)
    other = BloomStore(str(tmp_path), dataclasses.replace(SMALL, **{field: value}))
    with pytest.warns(UserWarning, match="geometry"):
        assert other.load(up_to_wave=5) == ({}, -1)
    assert BloomStore(str(tmp_path), SMALL).load(up_to_wave=5)[1] == 0


def test_covering_rebuilds_below_the_stamp_gate(spark, tmp_path):
    store = BloomStore(str(tmp_path), SMALL)
    d0 = _hashes_df(spark, 0, 300)
    s0 = store.update({}, d0, wave=0)
    # wave 1 needs the wave-0 delta only: the stored file covers it, quietly
    with warnings.catch_warnings(record=True) as quiet:
        warnings.simplefilter("always")
        assert store.covering(d0, wave=1) == s0
    assert not [w for w in quiet if issubclass(w.category, UserWarning)]
    # wave 3 needs waves 0-2: the wave-0 file is stale, rebuild from seen
    seen = d0.unionByName(_hashes_df(spark, 300, 300))
    with pytest.warns(UserWarning, match=r"stamp 0 does not cover wave 3") as rec:
        assert store.covering(seen, wave=3) == build_bloom_shards(seen, SMALL)
    assert len([w for w in rec if "stamp" in str(w.message)]) == 1


def test_bloom_dir_holds_one_file_and_resume_is_golden(
    spark, corpus_dir, golden, tmp_path
):
    state = str(tmp_path / "state")
    bloom_dir = os.path.join(state, "_bloom")
    CrawlEngine(spark, CFG, corpus_dir, state).run(max_waves=3)
    assert os.listdir(bloom_dir) == ["shards_000002.npz"]

    eng = CrawlEngine(spark, CFG, corpus_dir, state)
    eng.run()
    _assert_golden(eng, golden)
    assert len(os.listdir(bloom_dir)) == 1


def test_resume_with_larger_bloom_geometry_is_golden(
    spark, corpus_dir, golden, tmp_path
):
    """A resume under a larger bitmap must not probe the old, smaller one
    (an index error inside the UDF) — the stored file is stale."""
    state = str(tmp_path / "state")
    CrawlEngine(spark, CFG, corpus_dir, state).run(max_waves=2)

    bigger = dataclasses.replace(CFG, bloom_bits_per_shard=1 << 21)
    eng = CrawlEngine(spark, bigger, corpus_dir, state)
    with pytest.warns(UserWarning, match="geometry"):
        eng.run()
    _assert_golden(eng, golden)


def test_torn_shard_file_warns_and_resume_is_golden(
    spark, corpus_dir, golden, tmp_path
):
    state = str(tmp_path / "state")
    CrawlEngine(spark, CFG, corpus_dir, state).run(max_waves=2)
    torn = os.path.join(state, "_bloom", "shards_000001.npz")
    with open(torn, "r+b") as f:
        f.truncate(os.path.getsize(torn) // 2)

    eng = CrawlEngine(spark, CFG, corpus_dir, state)
    with pytest.warns(UserWarning, match=r"unreadable Bloom shard file .*shards_000001\.npz"):
        eng.run()
    _assert_golden(eng, golden)


@pytest.mark.parametrize("use_bloom", [False, True])
def test_frontier_never_holds_a_seen_url(spark, corpus_dir, tmp_path, use_bloom):
    """frontier ∩ crawl_log = ∅ after every wave (the log's url_hash column
    is the URL-seen set): the wave's candidates are its frontier as it
    stands, with no dedup of their own, because the discovery dedup keeps
    every seen URL out of the frontier."""
    eng = CrawlEngine(
        spark, CFG, corpus_dir, str(tmp_path / "state"), use_bloom=use_bloom
    )
    waves = 0
    while waves < CFG.max_waves and eng.run(max_waves=waves + 1):
        waves += 1
        frontier = eng.store.read_table(spark, "frontier")
        seen = eng.store.read_table(spark, "crawl_log")
        assert seen.count() > 0
        assert frontier.join(seen, "url_hash", "left_semi").count() == 0
    assert waves >= 3


def test_discovery_is_the_one_dedup(spark, corpus_dir, tmp_path, monkeypatch):
    """Each wave from wave 1 on runs one URL-seen dedup, the Bloom path,
    over the URLs it discovers, and every URL it adds to the frontier went
    through it; wave 0 has no crawl log and runs none."""
    calls = []

    def spy(name, orig):
        def wrapped(*args, **kw):
            cands = args[1] if name == "not_seen_bloom" else args[0]
            calls.append((name, {bytes(r["url_hash"]) for r in cands.collect()}))
            return orig(*args, **kw)

        monkeypatch.setattr(crawl_mod, name, wrapped)

    spy("not_seen_bloom", crawl_mod.not_seen_bloom)
    spy("not_seen_exact", crawl_mod.not_seen_exact)
    eng = CrawlEngine(spark, CFG, corpus_dir, str(tmp_path / "state"), use_bloom=True)
    for w in range(3):
        calls.clear()
        assert len(eng.run(max_waves=w + 1)) == 1
        if w == 0:
            assert calls == []
            continue
        assert [name for name, _ in calls] == ["not_seen_bloom"]
        frontier = eng.store.read_table(spark, "frontier")
        added = {
            bytes(r["url_hash"])
            for r in frontier.filter(f"discovered_wave = {w + 1}").collect()
        }
        assert added and added <= calls[0][1]
