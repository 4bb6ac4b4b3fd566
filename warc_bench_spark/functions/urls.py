"""URL canonicalization, hashing and extraction (SURVEY.md §2.3, C1-C4).

``canonicalize_url`` reimplements — from scratch, in Python — the volatile
query-parameter rewriting behavior of the reference's ``normalizeUrl``
(``/root/reference/src/orby/subtask_benchmark/webreplay-standalone/src/libs/
warc/utils.ts:12-93``):

* params ``timestamp, amp;timestamp, width, height, r, _`` have their values
  replaced with the placeholder ``{key}``;
* any param whose key starts with ``viewport.`` or ``client_metadata.`` is
  likewise placeholder-substituted;
* params ``completion_point, entry_point, max_results,
  suppress_result_types`` likewise;
* on hosts containing ``google`` with path exactly ``/search``, the params
  ``source iflsig uact gs_lp sclient sca_esv sei ei sa oq sstk ved biw bih
  dpr`` are dropped, and ``start`` is dropped only when its value is ``0``;
* otherwise param order is preserved; host/scheme are lowercased; an empty
  path becomes ``/`` (JS ``URL`` behavior).

``complete_scheme`` mirrors the start-URL derivation of
``/root/reference/src/orby/trajectory_collector/ray_scripts/
parallel_computing_tasks.py:199-208``: a scheme-less URL gets ``https://``.

``sha256_hex`` / the 20-hex dedup-key convention mirrors
``parallel_computing_tasks.py:209-211``
(``sha256(base_url + goal).hexdigest()[:20]``).

The Spark-side entry points are Arrow-vectorized pandas UDFs
(``canonicalize_udf``) — batched columnar transfer, no row-at-a-time Python
UDF — plus pure built-in column expressions for hashing (``sha2``) and
extraction (``regexp_extract_all``), which stay entirely JVM-side.
"""

from __future__ import annotations

import hashlib
import re
from urllib.parse import parse_qsl, quote, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

VOLATILE_KEYS = frozenset({"timestamp", "amp;timestamp", "width", "height", "r", "_"})
VOLATILE_PREFIXES = ("viewport.", "client_metadata.")
VOLATILE_EXTRA = frozenset(
    {"completion_point", "entry_point", "max_results", "suppress_result_types"}
)
GOOGLE_SEARCH_DROP = frozenset(
    "source iflsig uact gs_lp sclient sca_esv sei ei sa oq sstk ved biw bih dpr".split()
)

# URLs are extracted from text spans with this pattern. The whitespace class
# is spelled out explicitly because `\s` differs across the three regex
# engines that must agree on it: Java (ASCII [ \t\n\x0B\f\r]), Python
# (full Unicode whitespace) and DuckDB's RE2 ([\t\n\f\r ], no \x0B). With
# the explicit class, a Unicode space (U+00A0 etc.) inside a token is part
# of the URL in all three engines — one pinned semantics.
URL_PATTERN = r"(?:https?://|www\.)[^ \t\n\r\f\x0B<>\"']+"

DEDUP_KEY_LEN = 20  # mirrors TRAJECTORY_DATA_FINGERPRINT_LENGTH usage


def complete_scheme(url: str) -> str:
    """Scheme-less URL -> https:// URL (parallel_computing_tasks.py:199-208)."""
    if "://" not in url:
        return "https://" + url
    return url


# Fast path: URLs already in canonical shape (lowercase https host with a
# path, query of unreserved-char k=v pairs) pass through untouched IF no
# volatile key applies — provably identical to the full path (property test
# in tests/test_urls.py). ~2-3x on crawl frontiers, where most URLs are
# already canonical.
_FAST_RE = re.compile(
    r"^https://[a-z0-9.-]+/[A-Za-z0-9_.~/-]*"
    r"(?:\?[a-z0-9_.-]+=[A-Za-z0-9_.~-]*(?:&[a-z0-9_.-]+=[A-Za-z0-9_.~-]*)*)?$"
)

# The batch fast-path predicate, lookahead-free so pyarrow.compute (RE2,
# C++) can evaluate it over whole Arrow arrays: a URL takes the fast path
# iff it matches the canonical structure AND contains no 'google'. Volatile
# query keys do NOT need a separate predicate here: the global
# _VOLATILE_REPLACE_PAT substitution below handles them on fast-path URLs
# directly ('amp;timestamp' contains ';', which the structure regex already
# rejects). Equivalence with the scalar fast+slow path is property-tested
# in tests/test_urls.py.
_FAST_STRUCT_PAT = (
    r"^https://[a-z0-9.-]+/[A-Za-z0-9_.~/-]*"
    r"(\?[a-z0-9_.-]+=[A-Za-z0-9_.~-]*(&[a-z0-9_.-]+=[A-Za-z0-9_.~-]*)*)?$"
)

# On structure-clean URLs the ENTIRE canonicalization reduces to replacing
# each volatile param's value with the percent-encoded {key} placeholder —
# one RE2 global replace over the whole Arrow array. Keys/values are
# unreserved chars there, so python's quote() would pass them through
# unchanged and parse_qsl/urlunsplit round-trip is the identity.
_VOLATILE_REPLACE_PAT = (
    r"([?&])((?:viewport|client_metadata)\.[a-z0-9_.-]*|"
    + "|".join(
        re.escape(k)
        for k in sorted((VOLATILE_KEYS | VOLATILE_EXTRA) - {"amp;timestamp"})
    )
    + r")=[A-Za-z0-9_.~-]*"
)
_VOLATILE_REPLACEMENT = r"\1\2=%7B\2%7D"


def _fast_canonical(url: str) -> str | None:
    if "google" in url or not _FAST_RE.match(url):
        return None
    q = url.partition("?")[2]
    if q:
        for part in q.split("&"):
            k = part.partition("=")[0]
            if (
                k in VOLATILE_KEYS
                or k in VOLATILE_EXTRA
                or k.startswith(VOLATILE_PREFIXES)
            ):
                return None
    return url


def canonicalize_url(url: str) -> str | None:
    """Canonical form of one URL; None if unparseable. Pure + deterministic."""
    if not url:
        return None
    url = complete_scheme(url.strip())
    fast = _fast_canonical(url)
    if fast is not None:
        return fast
    try:
        parts = urlsplit(url)
        port = parts.port  # raises on a non-numeric or out-of-range port
    except ValueError:
        return None
    host = (parts.hostname or "").lower()
    if not host:
        return None
    netloc = host
    if port is not None:
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    google_search = "google" in host and path == "/search"

    out_pairs: list[str] = []
    for k, v in parse_qsl(parts.query, keep_blank_values=True):
        if google_search and (k in GOOGLE_SEARCH_DROP or (k == "start" and v == "0")):
            continue
        if (
            k in VOLATILE_KEYS
            or k in VOLATILE_EXTRA
            or k.startswith(VOLATILE_PREFIXES)
        ):
            v = "{%s}" % k
        # JS URLSearchParams.toString() percent-encodes braces, so the
        # {key} placeholders serialize as %7Bkey%7D — mirror that.
        out_pairs.append(quote(k, safe="") + "=" + quote(v, safe=""))
    query = "&".join(out_pairs)
    # fragments are navigation-internal; a crawler's URL identity drops them
    return urlunsplit((parts.scheme.lower(), netloc, path, query, ""))


def sha256_hex(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def dedup_key(base_url: str, goal: str) -> str:
    """sha256(base_url + goal)[:20] — parallel_computing_tasks.py:209-211."""
    return sha256_hex(base_url + goal)[:DEDUP_KEY_LEN]


def add_query_param(url: str, param: str, value: str) -> str:
    """Add-or-replace one query parameter (C16).

    Mirrors ``/root/reference/src/orby/digitalagent/utils/auth_utils.py:
    10-27`` ``add_query_param``: parse the query into a key -> values map,
    set ``param`` to the single ``value`` (replacing every existing
    occurrence), re-encode preserving first-occurrence key order.
    """
    from urllib.parse import parse_qs, urlencode, urlparse, urlunparse

    parsed = urlparse(url)
    query_params = parse_qs(parsed.query)
    query_params[param] = [value]
    new_query = urlencode(query_params, doseq=True)
    return urlunparse(parsed._replace(query=new_query))


@pandas_udf(StringType())
def add_query_param_udf(urls: pd.Series, params: pd.Series, values: pd.Series) -> pd.Series:
    return pd.Series(
        [add_query_param(u, p, v) for u, p, v in zip(urls, params, values)]
    )


# --------------------------------------------------------------------------
# Spark-side (Arrow-vectorized)
# --------------------------------------------------------------------------

def canonicalize_series(urls: pd.Series) -> pd.Series:
    """Batch canonicalization: RE2 (pyarrow.compute, C++) routes the
    already-canonical majority straight through; only the residue goes
    through the per-element ``canonicalize_url``. Exactly equal to mapping
    ``canonicalize_url`` over the batch (property-tested)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    s = urls.astype(object)
    arr = pa.Array.from_pandas(s, type=pa.string())
    fast = pc.and_kleene(
        pc.match_substring_regex(arr, _FAST_STRUCT_PAT),
        pc.invert(pc.match_substring(arr, "google")),
    )
    fast_np = (
        fast.to_pandas().to_numpy(dtype=object) == True  # noqa: E712 (null -> False)
    )
    canon_fast = pc.replace_substring_regex(
        arr, pattern=_VOLATILE_REPLACE_PAT, replacement=_VOLATILE_REPLACEMENT
    )
    out = pd.Series(
        canon_fast.to_pandas().to_numpy(dtype=object), index=s.index, dtype=object
    ).where(fast_np)
    slow = ~fast_np
    if slow.any():
        out[slow] = s[slow].map(
            lambda u: canonicalize_url(u) if u is not None else None
        )
    return out


@pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    """Arrow-batched canonicalization (the C1+C2 vectorized UDF)."""
    return canonicalize_series(urls)


# url_identity's copy, flagged nondeterministic so the optimizer cannot push
# the IS NOT NULL filter below the projection and evaluate the UDF twice.
# Not canonicalize_udf itself: callers compare that one in join conditions.
_canonicalize_once_udf = pandas_udf(
    canonicalize_series, StringType()
).asNondeterministic()


def canonical_host(canonical_url: str) -> str:
    """Host (netloc, port preserved) of an already-canonical URL.

    THE host definition shared by engine and simulator: a canonical URL is
    always ``scheme://netloc/path...``, so the netloc is the third
    ``/``-separated field. The simulator's ``_host`` uses the identical
    expression — deriving host any other way (e.g. ``F.parse_url('HOST')``,
    which strips ports) reintroduces the engine/simulator parity hole on
    ported URLs.
    """
    return canonical_url.split("/", 3)[2]


def host_from_canonical_col(canonical: Column) -> Column:
    """Politeness host (netloc, port preserved) of a canonical URL — pure
    JVM column expression: third '/'-separated field via two
    ``substring_index`` passes, byte-identical to ``canonical_host`` /
    the simulator's ``split('/', 3)[2]`` (property-tested in
    tests/test_urls.py). THE hot-path host derivation since round 5: the
    canonicalize UDF returns one string column and the host is derived
    JVM-side, instead of shipping a (canonical_url, host) struct back
    from Python — that halves the UDF's Arrow return traffic and replaces
    a per-element pandas ``.str.split`` loop with JVM string ops.
    Measured on the 8M kernel (ABBA-interleaved sweeps): t8 17.24 →
    15.79 s (−8%), t2 neutral — the memory-traffic-biased win the
    DRAM-ceiling program was looking for (BENCH/BASELINE.md)."""
    return F.substring_index(F.substring_index(canonical, "/", 3), "/", -1)


def url_hash_col(canonical: Column, binary: bool = False) -> Column:
    """sha256 of the canonical URL — JVM built-in, no Python.

    ``binary=False`` (query plans, oracle parity): the 64-char lowercase
    hex string. ``binary=True`` (the engine's key, see ``url_identity``):
    the same digest re-encoded as 32 raw bytes via ``unhex`` — half the
    key bytes through every exchange/sort/cache, with identical ordering
    (unsigned byte order == lowercase-hex order; tests/test_binary_key.py)."""
    h = F.sha2(canonical, 256)
    return F.unhex(h) if binary else h


def url_identity(df: DataFrame, url_col: str) -> DataFrame:
    """Raw URL column -> ``canonical_url``, ``host``, ``url_hash``: THE URL
    identity of the crawl (C1+C2+C3), replacing ``url_col``.

    Rows whose URL does not canonicalize are dropped. The canonicalize UDF
    returns one string column over Arrow; the host is derived JVM-side
    (``host_from_canonical_col``), and ``url_hash`` is the 32-byte sha256
    digest (``url_hash_col(binary=True)``), the key every dedup and
    schedule step joins, sorts and salts on."""
    keep = [c for c in df.columns if c != url_col]
    canonical = F.col("canonical_url")
    return (
        df.withColumn("canonical_url", _canonicalize_once_udf(F.col(url_col)))
        .select(*keep, "canonical_url")
        .filter(canonical.isNotNull())
        .withColumn("host", host_from_canonical_col(canonical))
        .withColumn("url_hash", url_hash_col(canonical, binary=True))
    )


def extract_urls_col(text: Column) -> Column:
    """All URL-shaped tokens in a text column — JVM regexp, no Python."""
    return F.regexp_extract_all(text, F.lit(URL_PATTERN), 0)
