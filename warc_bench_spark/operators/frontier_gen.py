"""Distributed synthetic-frontier generation — all JVM-side.

For throughput benchmarking at the 10^10-URL design point we cannot drive
URL volume through a Python generator; the frontier must be synthesized by
the cluster itself. ``synthetic_frontier`` builds N raw URLs from
``spark.range`` with pure column expressions:

* power-law host popularity (hot-domain skew: host_id = floor(H * u^3) for
  a uniform hash-derived u — a heavy head like real crawl frontiers);
* a slice of URLs carries volatile params (timestamp=…) so the
  canonicalization UDF does real work;
* deterministic: a pure function of (n, n_hosts, seed) — identical across
  parallelism levels, which is what the N-vs-4N scaling comparison needs.

``synthetic_seen`` derives a deterministic subset of the same URL space as
the pre-existing URL-seen set so the dedup anti-join has real selectivity;
its keys are the engine's (``url_identity``: 32-byte digests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def synthetic_frontier(
    spark: SparkSession,
    n: int,
    n_hosts: int = 10_000,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    h = F.abs(F.xxhash64(F.col("id"), F.lit(seed)))
    u = (h % 1_000_000).cast("double") / 1_000_000.0
    host_id = F.floor(F.pow(u, 3.0) * n_hosts).cast("long")
    volatile = F.when(
        (h % 10) < 3, F.concat(F.lit("&timestamp="), (h % 999983).cast("string"))
    ).otherwise(F.lit(""))
    raw_url = F.concat(
        F.lit("https://host"),
        F.format_string("%05d", host_id),
        F.lit(".bench.example.com/p/"),
        F.col("id").cast("string"),
        F.lit("?id="),
        F.col("id").cast("string"),
        volatile,
    )
    return df.select(
        F.col("id"),
        raw_url.alias("url"),
        (h % 3).cast("int").alias("priority"),
    )


def synthetic_seen(frontier: DataFrame, fraction_mod: int = 3) -> DataFrame:
    """Every fraction_mod-th URL of the same space, pre-hashed as seen keys."""
    from ..functions.urls import url_identity

    return url_identity(
        frontier.filter(F.col("id") % fraction_mod == 0), "url"
    ).select("url_hash", "canonical_url")
