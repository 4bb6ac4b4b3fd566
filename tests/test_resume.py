"""Checkpoint/resume: kill after wave k, or crash at any write boundary
inside a wave, restart from the latest snapshot, and the completed run
must be bit-identical to an uninterrupted one — no re-fetch, no politeness
violation (the reference's resumability semantics,
parallel_computing_tasks.py:213-220, lifted to snapshot level)."""

import warnings
from collections import Counter

import pytest

from warc_bench_spark.config import CrawlConfig
from warc_bench_spark.operators.crawl import CrawlEngine
from warc_bench_spark.operators.dedup import BloomStore
from warc_bench_spark.simulator import simulate_crawl
from warc_bench_spark.state import SnapshotStore
from warc_bench_spark.synth import generate_corpus, write_corpus

CFG = CrawlConfig(
    seed=1234,
    n_urls=500,
    n_hosts=12,
    n_seeds=15,
    budget_per_wave=80,
    max_waves=5,
)


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(CFG)


@pytest.fixture(scope="module")
def corpus_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus_resume"))
    write_corpus(spark, corpus, d)
    return d


@pytest.mark.parametrize("use_bloom", [False, True])
def test_kill_and_resume_identical(spark, corpus, corpus_dir, tmp_path, use_bloom):
    golden = simulate_crawl(corpus, CFG)

    state = str(tmp_path / f"state_{use_bloom}")
    # run only 2 waves, then "kill" (drop the engine object entirely)
    eng1 = CrawlEngine(spark, CFG, corpus_dir, state, use_bloom=use_bloom)
    eng1.run(max_waves=2)
    manifest = eng1.store.latest()
    assert manifest["next_wave"] == 2
    seq_after_2 = manifest["seq_end"]
    del eng1

    # a fresh engine resumes from the snapshot and finishes the crawl
    eng2 = CrawlEngine(spark, CFG, corpus_dir, state, use_bloom=use_bloom)
    eng2.run()

    got = [(r["seq"], r["canonical_url"]) for r in eng2.crawl_log().collect()]
    want = [(s, c) for (s, _w, c, _h, _v, _p) in golden.crawl_log]
    assert got == want  # identical total order across the kill

    # no URL fetched twice (no re-fetch after resume)
    seqs = [g[0] for g in got]
    urls = [g[1] for g in got]
    assert len(set(urls)) == len(urls)
    assert seqs == list(range(1, len(seqs) + 1))
    assert len(got) > seq_after_2  # resume actually continued

    # url_seen multiset equality
    seen = Counter((r["url_hash"], r["wave"]) for r in eng2.url_seen().collect())
    assert seen == Counter(golden.url_seen.items())


def test_uncommitted_wave_is_invisible(spark, corpus_dir, tmp_path):
    """A manifest-less data dir (crash before rename) must be ignored."""
    import os

    state = str(tmp_path / "state2")
    eng = CrawlEngine(spark, CFG, corpus_dir, state, use_bloom=False)
    eng.run(max_waves=1)
    before = eng.store.latest()

    # simulate a crash mid-commit: orphan data files, no manifest
    orphan = os.path.join(state, "data", "crawl_log", "wave=99")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "garbage.parquet"), "w") as f:
        f.write("not parquet")

    eng2 = CrawlEngine(spark, CFG, corpus_dir, state, use_bloom=False)
    assert eng2.store.latest() == before  # orphan invisible
    log = eng2.crawl_log().collect()
    assert all(r["wave"] == 0 for r in log)


@pytest.mark.parametrize("compact_every", [1, 2])
def test_compaction_preserves_golden(spark, corpus, corpus_dir, tmp_path, compact_every):
    """Compacting crawl_log every 1 or 2 waves must not change results,
    and must shrink the manifest's dir list. Every 1 compacts at wave 0
    too, where there is no crawl log to union yet."""
    import dataclasses

    cfg = dataclasses.replace(CFG, compact_every=compact_every)
    golden = simulate_crawl(corpus, cfg)
    eng = CrawlEngine(spark, cfg, corpus_dir, str(tmp_path / "state_c"), use_bloom=True)
    eng.run()
    got = [(r["seq"], r["canonical_url"]) for r in eng.crawl_log().collect()]
    want = [(s, c) for (s, _w, c, _h, _v, _p) in golden.crawl_log]
    assert got == want
    manifest = eng.store.latest()
    # the crawl log is the one record of what was fetched (no url_seen
    # table), and after a compaction wave its dir list is short
    assert set(manifest["tables"]) == {"frontier", "crawl_log", "metrics"}
    assert len(manifest["tables"]["crawl_log"]) <= 2


def _assert_golden(eng, golden):
    got = [(r["seq"], r["canonical_url"]) for r in eng.crawl_log().collect()]
    assert got == [(s, c) for (s, _w, c, _h, _v, _p) in golden.crawl_log]
    seen = Counter((r["url_hash"], r["wave"]) for r in eng.url_seen().collect())
    assert seen == Counter(golden.url_seen.items())


def test_torn_manifest_tmp_file_does_not_block_bootstrap(
    spark, corpus, corpus_dir, tmp_path
):
    """A crash inside bootstrap's publish can leave a torn
    '.tmp.000000.json' as the only file in _snapshots. It is no manifest:
    the next run bootstraps and crawls the golden order."""
    snaps = tmp_path / "state" / "_snapshots"
    snaps.mkdir(parents=True)
    (snaps / ".tmp.000000.json").write_text('{"frontier_count": 1')
    eng = CrawlEngine(spark, CFG, corpus_dir, str(tmp_path / "state"), use_bloom=False)
    eng.run()
    _assert_golden(eng, simulate_crawl(corpus, CFG))


class _Crash(Exception):
    pass


def _crash_on(cls, attr, table=None):
    """A setup that patches ``cls.attr`` to raise; with ``table``, only
    when it is called on that table."""
    orig = getattr(cls, attr)

    def crashing(self, *args, **kw):
        if table is None or args[0] == table:
            raise _Crash(attr)
        return orig(self, *args, **kw)

    return lambda monkeypatch: monkeypatch.setattr(cls, attr, crashing)


@pytest.mark.parametrize(
    "crash, committed",
    [
        # after the crawl_log write
        (_crash_on(SnapshotStore, "write_table", "frontier"), False),
        (_crash_on(SnapshotStore, "publish"), False),  # after the frontier write
        (_crash_on(BloomStore, "update"), True),  # after publish, before the filter
    ],
    ids=["after_log_write", "after_frontier_write", "after_publish"],
)
def test_crash_inside_wave_resumes_golden(
    spark, corpus, corpus_dir, tmp_path, monkeypatch, crash, committed
):
    """Wave 1 crashes at one of its write boundaries; a fresh engine
    resumes from the latest snapshot and the crawl still equals the
    simulator's. Before publish the wave's written dirs are orphans and the
    wave re-runs; after publish only the Bloom file lags, and ``covering``
    rebuilds it from the crawl log with a warning."""
    state = str(tmp_path / "state")
    CrawlEngine(spark, CFG, corpus_dir, state, use_bloom=True).run(max_waves=1)
    with monkeypatch.context() as m:
        crash(m)
        with pytest.raises(_Crash):
            CrawlEngine(spark, CFG, corpus_dir, state, use_bloom=True).run(max_waves=2)

    eng = CrawlEngine(spark, CFG, corpus_dir, state, use_bloom=True)
    assert eng.store.latest()["next_wave"] == (2 if committed else 1)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        eng.run()
    rebuilt = [w for w in caught if "rebuilding the filter" in str(w.message)]
    assert len(rebuilt) == (1 if committed else 0)
    _assert_golden(eng, simulate_crawl(corpus, CFG))
