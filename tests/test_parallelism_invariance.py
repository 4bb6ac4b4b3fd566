"""Exact crawl order under different parallelism (SURVEY §7.4 item 2):
the same corpus + config crawled at local[2] (separate process, separate
JVM, different shuffle partitioning) must produce the byte-identical crawl
log as the in-session run (the machine's core count, 8 shuffle
partitions). The engine's repartitions take the session's
spark.sql.shuffle.partitions, so the local[2] run writes 2-partition
frontiers and the in-session run writes 8: the test covers the engine's
own partition count too."""

import json
import os
import subprocess
import sys

from warc_bench_spark.config import CrawlConfig
from warc_bench_spark.operators.crawl import CrawlEngine
from warc_bench_spark.synth import generate_corpus, write_corpus

CFG = CrawlConfig(
    seed=321,
    n_urls=600,
    n_hosts=12,
    n_seeds=12,
    budget_per_wave=90,
    max_waves=3,
    hot_host_threshold=30,  # force the skew-split path too
)

WORKER = r"""
import sys, json
sys.path.insert(0, sys.argv[1])
from warc_bench_spark.session import get_spark
from warc_bench_spark.config import CrawlConfig
from warc_bench_spark.operators.crawl import CrawlEngine

cfg = CrawlConfig(**json.loads(sys.argv[2]))
spark = get_spark("invariance-2", cores=2, shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
eng = CrawlEngine(spark, cfg, sys.argv[3], sys.argv[4], use_bloom=True)
eng.run()
rows = [
    [r["seq"], r["wave"], r["canonical_url"], r["host"], r["vt"], r["priority"]]
    for r in eng.crawl_log().collect()
]
print("RESULT:" + json.dumps(rows))
"""


def test_local2_equals_local8(spark, tmp_path):
    corpus = generate_corpus(CFG)
    corpus_dir = str(tmp_path / "corpus")
    write_corpus(spark, corpus, corpus_dir)

    eng8 = CrawlEngine(spark, CFG, corpus_dir, str(tmp_path / "s8"), use_bloom=True)
    eng8.run()
    got8 = [
        [r["seq"], r["wave"], r["canonical_url"], r["host"], r["vt"], r["priority"]]
        for r in eng8.crawl_log().collect()
    ]

    import dataclasses

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            WORKER,
            repo,
            json.dumps(dataclasses.asdict(CFG)),
            corpus_dir,
            str(tmp_path / "s2"),
        ],
        capture_output=True,
        text=True,
        timeout=400,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("RESULT:")][-1]
    got2 = json.loads(line[len("RESULT:"):])

    assert len(got8) > 100
    assert got2 == got8  # exact total order, parallelism-invariant


QUERY_WORKER = r"""
import sys, json
sys.path.insert(0, sys.argv[1])
import __spark_entry__ as e
from warc_bench_spark.session import get_spark

spark = get_spark("invariance-q2", cores=2, shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
rows = [[None if v is None else str(v) for v in r]
        for r in e.queries()[sys.argv[2]](spark, sys.argv[3]).collect()]
print("RESULT:" + json.dumps(rows))
"""


def _query_rows_at_2(name, sf_dir):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", QUERY_WORKER, repo, name, sf_dir],
        capture_output=True,
        text=True,
        check=True,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("RESULT:")][-1]
    return json.loads(line[len("RESULT:"):])


def test_grouped_and_iterative_queries_parallelism_invariant(spark):
    """The riskiest operator shapes for partitioning-dependence — q53's
    per-group applyInPandas greedy filter, q64's iterative min-label
    propagation, q67's per-diagonal island windows (seed rows arrive from
    a shuffled equi-join), q69's broadcast excision over q67's output,
    q80's unrolled PageRank over a localCheckpointed edge RDD (checkpoint
    partitioning differs with parallelism) and q83's collect_set posting
    lists (accumulation order differs per partitioning; sort_array must
    erase it) — must return identical rows at local[2] (fresh process, 2
    shuffle partitions) and the in-session run."""
    import __spark_entry__ as e

    sf_dir = "/root/testdata/sf0.001"
    for name in (
        "q53_tfidf_neardup_filter",
        "q64_dedup_components",
        "q67_duplicate_spans",
        "q69_excise_spans",
        "q80_pagerank_scaled",
        "q83_inverted_index",
    ):
        rows8 = [
            [None if v is None else str(v) for v in r]
            for r in e.queries()[name](spark, sf_dir).collect()
        ]
        rows2 = _query_rows_at_2(name, sf_dir)
        assert rows2 == rows8, name
