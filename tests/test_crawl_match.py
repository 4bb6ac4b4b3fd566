"""Golden crawl-order + URL-seen equality: Spark engine vs pure-Python
reference simulator (the north rule's core invariant).

Also proves:
* parallelism invariance — the all-hot run (every host range-split)
  produces the same total order (SURVEY.md §7.4 item 2/3);
* Bloom prefilter exactness — same result as the plain anti-join
  (§7.4 item 4).
"""

import dataclasses
import os
from collections import Counter

import pytest

from warc_bench_spark.config import CrawlConfig
from warc_bench_spark.operators.crawl import CrawlEngine
from warc_bench_spark.simulator import simulate_crawl
from warc_bench_spark.synth import generate_corpus, write_corpus

CFG = CrawlConfig(
    seed=42,
    n_urls=800,
    n_hosts=15,
    n_seeds=20,
    budget_per_wave=120,
    max_waves=6,
)


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(CFG)


@pytest.fixture(scope="module")
def corpus_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    write_corpus(spark, corpus, d)
    return d


@pytest.fixture(scope="module")
def golden(corpus):
    return simulate_crawl(corpus, CFG)


def run_engine(spark, corpus_dir, tmp, cfg=CFG, **kw):
    eng = CrawlEngine(spark, cfg, corpus_dir, str(tmp / "state"), **kw)
    eng.run()
    return eng


def log_tuples(eng):
    return [
        (r["seq"], r["wave"], r["canonical_url"], r["host"], r["vt"], r["priority"])
        for r in eng.crawl_log().collect()
    ]


def assert_matches_golden(eng, golden):
    got = log_tuples(eng)
    want = [(s, w, c, h, v, p) for (s, w, c, h, v, p) in golden.crawl_log]
    assert len(got) == len(want)
    # exact crawl order (seq -> canonical_url) — list equality
    assert [(g[0], g[2]) for g in got] == [(w[0], w[2]) for w in want]
    # and full row equality (wave, host, vt, priority)
    assert got == want
    # URL-seen multiset equality (Counter semantics, evaluator.py:137-148)
    seen = Counter((r["url_hash"], r["wave"]) for r in eng.url_seen().collect())
    want_seen = Counter(golden.url_seen.items())
    assert seen == want_seen


def test_engine_matches_simulator(spark, corpus_dir, golden, tmp_path):
    eng = run_engine(spark, corpus_dir, tmp_path, use_bloom=False)
    assert_matches_golden(eng, golden)
    assert len(log_tuples(eng)) > 200  # the crawl actually expanded


@pytest.mark.parametrize(
    "geometry",
    [
        {},
        # saturated: 2 x 64 bits, k=4 answers "maybe" for nearly every key,
        # so the residue semi-join and anti-join carry the whole dedup
        {"bloom_shards": 2, "bloom_bits_per_shard": 64, "bloom_hashes": 4},
    ],
    ids=["default", "saturated"],
)
def test_bloom_path_identical(spark, corpus_dir, golden, tmp_path, geometry):
    cfg = dataclasses.replace(CFG, **geometry)
    eng = run_engine(spark, corpus_dir, tmp_path, cfg=cfg, use_bloom=True)
    assert_matches_golden(eng, golden)


def test_skew_split_rank_identical(spark, corpus_dir, golden, tmp_path):
    # threshold 0: every host is hot, so the production routing join sends
    # the whole frontier through the split path
    cfg = dataclasses.replace(CFG, hot_host_threshold=0)
    eng = run_engine(spark, corpus_dir, tmp_path, cfg=cfg, use_bloom=False)
    assert_matches_golden(eng, golden)


def test_metrics_lineage_recorded(spark, corpus_dir, tmp_path):
    eng = run_engine(spark, corpus_dir, tmp_path, use_bloom=False)
    m = eng.metrics()
    metrics = {r["metric"] for r in m.collect()}
    assert {"admitted", "new_urls", "frontier_left", "frontier_partition_rows"} <= metrics


def test_frontier_files_follow_session_partitions(spark, corpus_dir, tmp_path):
    """A wave writes its frontier in at most the session's
    spark.sql.shuffle.partitions files, and the lineage histogram is keyed
    by those partition ids."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    eng = CrawlEngine(spark, CFG, corpus_dir, str(tmp_path / "state"))
    eng.run(max_waves=1)
    (rel,) = eng.store.latest()["tables"]["frontier"]
    files = os.listdir(os.path.join(str(tmp_path / "state"), rel))
    assert 0 < len([f for f in files if f.startswith("part-")]) <= n_parts
    keys = [
        int(r["key"])
        for r in eng.metrics().filter("metric = 'frontier_partition_rows'").collect()
    ]
    assert keys and max(keys) < n_parts


def test_golden_with_ports_and_unicode_whitespace(spark, tmp_path):
    """Engine/simulator parity on the corpus shapes synth never emits:
    ported hosts (distinct politeness domains from the same hostname, with
    different crawl delays and robots rules), a link whose port is not a
    number (dropped as unparseable on both sides, not a failed wave) and
    Unicode whitespace inside span text (the pinned URL_PATTERN must
    tokenize identically in Java and Python — an NBSP glues two URLs into
    ONE token on both sides)."""
    from warc_bench_spark.functions.urls import canonicalize_url, sha256_hex
    from warc_bench_spark.synth import Corpus, write_corpus

    h, hp = "h1.example.com", "h1.example.com:8080"
    text = (
        f"a https://{h}/a/2 b https://{hp}/a/2 "
        f"glued https://{h}/g/1\u00a0https://{hp}/g/2 tail "
        f"blocked https://{h}/priv/x ok https://{hp}/priv/x "
        f"bad-port http://{h}:abc/x ."
    )
    pages = {}
    documents = {}
    for canon_src in (f"https://{h}/a/1", f"https://{hp}/a/1"):
        canon = canonicalize_url(canon_src)
        doc_id = sha256_hex(canon)[:20]
        pages[canon] = doc_id
        documents[doc_id] = [
            ("text", text, None, 0),
            ("media", None, "blob://x", 1),
        ]
    corpus = Corpus(
        urls=[],
        canonicals=[],
        pages=pages,
        documents=documents,
        outlinks={},
        seeds=[
            (f"https://{h}/a/1", h, "g1", 0),
            (f"{hp}/a/1", hp, "g2", 0),  # scheme-less, ported
        ],
        robots={h: (["/priv"], 500), hp: ([], 1000)},
        hosts=[h, hp],
    )
    d = str(tmp_path / "corpus")
    write_corpus(spark, corpus, d)
    cfg = CrawlConfig(seed=1, budget_per_wave=50, max_waves=3)
    eng = CrawlEngine(spark, cfg, d, str(tmp_path / "state"), use_bloom=False)
    eng.run()
    got = log_tuples(eng)
    golden = simulate_crawl(corpus, cfg)
    assert got == [(s, w, c, h_, v, p) for (s, w, c, h_, v, p) in golden.crawl_log]
    hosts_seen = {g[3] for g in got}
    assert {h, hp} <= hosts_seen  # ported host is its own politeness domain
    glued = [g[2] for g in got if "\u00a0" in g[2]]
    assert glued, "the NBSP-glued token must crawl as ONE URL on both sides"
    assert not any("/priv" in g[2] and g[3] == h for g in got)
    assert any(g[2].endswith("/priv/x") and g[3] == hp for g in got)


def test_readers_empty_not_none_before_first_wave(spark, corpus_dir, tmp_path):
    """Bootstrap publishes only the frontier (url_seen/crawl_log absent in
    the wave-0 manifest); the reader API must still hand back typed EMPTY
    DataFrames — a caller comparing against the simulator's empty log (e.g.
    an all-robots-blocked seed list) would otherwise hit None."""
    eng = CrawlEngine(spark, CFG, corpus_dir, str(tmp_path / "state0"))
    eng.bootstrap()
    assert eng.crawl_log().collect() == []
    assert eng.url_seen().collect() == []
    assert eng.metrics().collect() == []
    assert [f.name for f in eng.crawl_log().schema] == [
        "seq", "wave", "canonical_url", "host", "vt", "priority",
    ]
