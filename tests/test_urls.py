"""Unit rule-table for canonicalization — mirrors the jest-style spec tables
of the reference (SURVEY.md §5: normalizeUrl rules of
webreplay-standalone/src/libs/warc/utils.ts:12-93, scheme completion of
parallel_computing_tasks.py:199-208, dedup key of :209-211)."""

import pandas as pd

from warc_bench_spark.functions.urls import (
    URL_PATTERN,
    canonicalize_url,
    complete_scheme,
    dedup_key,
    sha256_hex,
)

import hashlib
import re


CASES = [
    # volatile params -> placeholder (percent-encoded braces, as JS
    # URLSearchParams.toString() serializes them)
    ("https://example.com/?timestamp=12345", "https://example.com/?timestamp=%7Btimestamp%7D"),
    ("https://example.com/a?width=800&height=600", "https://example.com/a?width=%7Bwidth%7D&height=%7Bheight%7D"),
    ("https://example.com/a?r=9&_=123", "https://example.com/a?r=%7Br%7D&_=%7B_%7D"),
    # prefix params
    (
        "https://maps.example.com/x?viewport.lat=1.2&viewport.lng=3.4",
        "https://maps.example.com/x?viewport.lat=%7Bviewport.lat%7D&viewport.lng=%7Bviewport.lng%7D",
    ),
    (
        "https://x.com/?client_metadata.session=abc",
        "https://x.com/?client_metadata.session=%7Bclient_metadata.session%7D",
    ),
    # extra dynamic keys
    (
        "https://x.com/api?completion_point=9&max_results=10",
        "https://x.com/api?completion_point=%7Bcompletion_point%7D&max_results=%7Bmax_results%7D",
    ),
    # google /search host rule: drop junk keys, keep q; drop start only when 0
    (
        "https://www.google.co.uk/search?q=nintendo&start=0&ved=abc&ei=xyz&oq=nin",
        "https://www.google.co.uk/search?q=nintendo",
    ),
    (
        "https://www.google.com/search?q=n&start=10&sa=X",
        "https://www.google.com/search?q=n&start=10",
    ),
    # google rule only on /search path
    ("https://www.google.com/maps?ved=abc", "https://www.google.com/maps?ved=abc"),
    # non-volatile params preserved, order kept
    ("https://example.com/p?b=2&a=1", "https://example.com/p?b=2&a=1"),
    # empty path -> /
    ("https://example.com", "https://example.com/"),
    # host lowercased, fragment dropped
    ("https://EXAMPLE.com/A/b#frag", "https://example.com/A/b"),
    # scheme completion
    ("example.com/x", "https://example.com/x"),
    ("www.site.org/a?timestamp=7", "https://www.site.org/a?timestamp=%7Btimestamp%7D"),
]


def test_canonicalize_rule_table():
    for raw, expected in CASES:
        assert canonicalize_url(raw) == expected, raw


def test_canonicalize_idempotent():
    for raw, _ in CASES:
        c = canonicalize_url(raw)
        assert canonicalize_url(c) == c


def test_canonicalize_garbage():
    assert canonicalize_url("") is None
    assert canonicalize_url(None) is None
    assert canonicalize_url("https://") is None
    # a port that is not a number in 0-65535 makes the URL unparseable
    assert canonicalize_url("http://a.com:abc/x") is None
    assert canonicalize_url("https://b.com:99999999/y") is None


def test_complete_scheme():
    assert complete_scheme("example.com") == "https://example.com"
    assert complete_scheme("http://a.b") == "http://a.b"


def test_dedup_key_matches_reference_rule():
    # sha256(base_url + goal).hexdigest()[:20] — parallel_computing_tasks.py:209-211
    base, goal = "shop.example.com", "buy a blue stapler"
    assert dedup_key(base, goal) == hashlib.sha256((base + goal).encode()).hexdigest()[:20]
    assert len(dedup_key(base, goal)) == 20


def test_url_pattern_extraction():
    text = 'intro see https://a.example.com/x?id=1 . and www.b.org/y end "https://c.io/z"'
    found = re.findall(URL_PATTERN, text)
    assert found == ["https://a.example.com/x?id=1", "www.b.org/y", "https://c.io/z"]


def test_url_identity_matches_scalar_references(spark):
    """url_identity (the engine's one URL-identity pipeline) against the
    scalar references: canonical_url == canonicalize_url, host ==
    canonical_host (the simulator's host), url_hash == the 32-byte sha256
    digest; raws that do not canonicalize are dropped."""
    from warc_bench_spark.functions.urls import canonical_host, url_identity

    bad = ["", "https:///x", "http://a.com:abc/x", "https://b.com:99999999/y"]
    assert all(canonicalize_url(r) is None for r in bad)
    raws = [r for r, _ in CASES] + bad
    df = spark.createDataFrame([(i, r) for i, r in enumerate(raws)], "i int, raw string")
    rows = {r["i"]: r for r in url_identity(df, "raw").collect()}
    assert set(rows) == set(range(len(CASES)))
    for i, row in rows.items():
        assert "raw" not in row.asDict()
        expected = canonicalize_url(raws[i])
        assert row["canonical_url"] == expected
        assert row["host"] == canonical_host(expected)
        assert bytes(row["url_hash"]) == bytes.fromhex(sha256_hex(expected))


def test_jvm_host_matches_canonical_host(spark):
    """The r5 hot-path host derivation (JVM substring_index, urls.py
    host_from_canonical_col) must be byte-identical to canonical_host()
    — the simulator's host definition — on every canonical URL shape,
    including ports, single-label hosts, deep paths, and percent-encoded
    placeholders."""
    from pyspark.sql import functions as F
    from warc_bench_spark.functions.urls import (
        canonical_host,
        host_from_canonical_col,
    )

    canonicals = [
        "https://a.example.com/p?q=1",
        "https://h.com:8080/",
        "https://x.y/",
        "http://up.example.com/a/b/c?x=%7Br%7D",
        "https://single/",
        "https://sub.deep.example.co.uk:444/a?b=c&d=e",
    ]
    df = spark.createDataFrame([(u,) for u in canonicals], "canonical_url string")
    rows = df.withColumn(
        "host", host_from_canonical_col(F.col("canonical_url"))
    ).collect()
    for r in rows:
        assert r["host"] == canonical_host(r["canonical_url"]), r


def test_fast_path_equivalence():
    """Property: the fast-path canonicalizer is bit-identical to the full
    path on every URL shape the corpus generator and frontier_gen emit,
    plus adversarial edges."""
    import random
    import warc_bench_spark.functions.urls as U

    rng = random.Random(7)
    urls = []
    for i in range(3000):
        host = f"host{rng.randrange(10000):05d}.bench.example.com"
        q = f"id={i}"
        if rng.random() < 0.4:
            q += f"&timestamp={rng.randrange(10**9)}"
        if rng.random() < 0.2:
            q += f"&viewport.lat={rng.random():.3f}"
        urls.append(f"https://{host}/p/{i}?{q}")
    urls += [
        "https://a.com/x",
        "https://a.com/x?",
        "https://a.com/x?flag",
        "https://A.com/x?b=1",
        "https://a.com/x?b=%20c",
        "https://www.google.com/search?q=a&ved=1",
        "https://a.com/x?b=1&b=2",
        "https://a.com",
        "http://a.com/x?b=1",
        "https://a.com/p%20q?x=1",
    ]

    fast_re = U._FAST_RE
    never = __import__("re").compile(r"(?!)")
    got_fast = [U.canonicalize_url(u) for u in urls]
    U._FAST_RE = never
    try:
        got_slow = [U.canonicalize_url(u) for u in urls]
    finally:
        U._FAST_RE = fast_re
    assert got_fast == got_slow


def test_fast_path_actually_hits():
    from warc_bench_spark.functions.urls import _fast_canonical

    assert _fast_canonical("https://a.com/x?id=1") == "https://a.com/x?id=1"
    assert _fast_canonical("https://a.com/x?timestamp=1") is None  # volatile
    assert _fast_canonical("https://www.google.com/search?q=a") is None
