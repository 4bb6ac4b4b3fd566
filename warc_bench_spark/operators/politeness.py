"""Per-host politeness scheduling with explicit skew splitting.

This is the Spark re-expression of the reference's sliding-window rate
limiter (``/root/reference/src/orby/trajectory_collector/ray_scripts/
frequency_limiter.py:24-47`` — a mutable deque actor consulted before every
fetch) as **data**, in deterministic virtual time (SURVEY.md §7.4 item 1):

    the k-th URL of host h in a wave (k over per-host order
    (priority asc, url_hash asc)) gets
    vt = max(k * crawl_delay_ms(h), floor(k / window_limit) * window_ms)

Everything here is JVM-side column arithmetic — no Python at all in this
operator (stricter than the north star's "vectorized Arrow UDFs only").

Skew (north rule: "host-hash salted partitioning with explicit skew
splitting for hot domains"): a per-host ``row_number`` window puts an entire
host's pending URLs into one task; a hot domain with 10^7 pending URLs would
straggle or OOM. ``rank_in_host`` therefore ranks in two phases over a salted
frame. Hot hosts (pending count > cfg.hot_host_threshold, a broadcast flag)
are range-split by the first byte of ``url_hash``: 256-way on the engine's
32-byte key, 16-way (the first nibble) on the hex keys the tests use. The
split is **order-compatible** with the per-host sort key (unsigned byte
order == lowercase-hex order == numeric order) and uniformly balanced
because the key is a sha256. Cold hosts get one degenerate salt bucket.
Local ranks are computed per (host, priority, salt) slice; slice sizes are
aggregated into a tiny offsets table (cumulative count over (priority,
salt) within host) and broadcast-joined back. Global per-host rank = slice
offset + local rank.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig


def _salt_col() -> Column:
    # leading slice of the sha256 — an order-compatible range split. The
    # same expression serves both key encodings: on the hex STRING it is
    # the first nibble (16-way); on the BINARY key (the engine's, see
    # url_identity) it is the first byte (256-way). substring operates on
    # either type, and unsigned byte order == lowercase-hex order, so the
    # split stays range-sorted.
    return F.substring("url_hash", 1, 1)


def _cold_salt(df: DataFrame) -> Column:
    """Type-matched degenerate-bucket literal for cold hosts (a WHEN's
    branches must agree: binary keys need a binary salt literal)."""
    from pyspark.sql.types import BinaryType

    if isinstance(df.schema["url_hash"].dataType, BinaryType):
        return F.lit(bytes(1))
    return F.lit("0")


def _rank_two_phase(salted: DataFrame) -> DataFrame:
    """Two-phase per-host ranking over a pre-salted frame (module docstring).

    One big shuffle (window over (host, priority, _salt)) + a tiny offsets
    aggregate broadcast back. At extreme host cardinality the offsets join
    would switch from broadcast to a co-partitioned shuffle join — same
    logical plan.
    """
    w_local = Window.partitionBy("host", "priority", "_salt").orderBy("url_hash")
    local = salted.withColumn("_lrank", F.row_number().over(w_local))

    # tiny per-slice histogram -> exclusive running offset within each host
    counts = salted.groupBy("host", "priority", "_salt").agg(
        F.count(F.lit(1)).alias("_n")
    )
    w_off = (
        Window.partitionBy("host")
        .orderBy("priority", "_salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).drop("_n")

    return (
        local.join(F.broadcast(offsets), ["host", "priority", "_salt"])
        .withColumn("k", (F.col("_off") + F.col("_lrank") - F.lit(1)).cast("long"))
        .drop("_salt", "_lrank", "_off")
    )


def rank_in_host(
    df: DataFrame, cfg: CrawlConfig, hot_hosts: DataFrame | None = None
) -> DataFrame:
    """Rank every row within its host; route hot hosts through the split path.

    ``hot_hosts`` (a one-column ``host`` DataFrame) should come from a
    CHEAP already-materialized source — e.g. a ``groupBy(host).count`` over
    the frontier *table*, not over the candidate pipeline — because it is
    evaluated as the broadcast side of the routing join; deriving it from
    ``df`` itself would re-execute the whole upstream pipeline (UDFs,
    anti-join) a second time. If omitted, it IS derived from ``df`` (small
    inputs / tests only).

    Routing is a single pass, not a branch: cold hosts get one degenerate
    salt bucket (equivalent to a plain per-host window), hot hosts get the
    first-byte range split (256-way on the binary key, 16-way on hex) — so
    the upstream pipeline (canonicalize UDF, dedup anti-join) executes
    exactly once, and there is no driver-side action.
    """
    if hot_hosts is None:
        hot_hosts = (
            df.groupBy("host")
            .agg(F.count(F.lit(1)).alias("_pending"))
            .filter(F.col("_pending") > cfg.hot_host_threshold)
            .select("host")
        )
    flag = F.broadcast(hot_hosts.select("host").withColumn("_hot", F.lit(True)))
    salted = df.join(flag, "host", "left").withColumn(
        "_salt", F.when(F.col("_hot").isNotNull(), _salt_col()).otherwise(_cold_salt(df))
    )
    return _rank_two_phase(salted.drop("_hot"))


def with_virtual_time(df: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """vt = max(k*delay, floor(k/L)*W) — pure column arithmetic (W5 lift)."""
    return df.withColumn(
        "vt",
        F.greatest(
            F.col("k") * F.col("crawl_delay_ms").cast("long"),
            (F.floor(F.col("k") / cfg.window_limit) * cfg.window_ms).cast("long"),
        ),
    )


def schedule_wave(
    candidates: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig,
    hot_hosts: DataFrame | None = None,
) -> DataFrame:
    """Candidates (canonical_url, url_hash, host, priority, ...) -> + (k, vt).

    Robots join is a broadcast dimension lookup (the J6 pattern,
    ``subtask_benchmark/utils/utils.py:31-37``); the crawl-delay default
    mirrors the reference's global limiter constants.
    """
    delays = robots.select("host", "crawl_delay_ms")
    with_delay = candidates.join(F.broadcast(delays), "host", "left").withColumn(
        "crawl_delay_ms",
        F.coalesce(F.col("crawl_delay_ms"), F.lit(cfg.default_delay_ms)),
    )
    ranked = rank_in_host(with_delay, cfg, hot_hosts=hot_hosts)
    return with_virtual_time(ranked, cfg).drop("crawl_delay_ms")
