"""Streaming URL-seen dedup — D1's continuous-ingestion form.

Batch D1 is the Bloom-prefiltered exact anti-join against the url_hash
column of the persisted crawl log (``operators/dedup.py``; reference
semantics: the per-URL S3 existence probe of ``s3_utils.py:152-180`` used at
``parallel_computing_tasks.py:213-220``). When URLs arrive as a FEED
rather than wave snapshots (SURVEY.md §2.13), the same first-seen-wins
contract is Structured Streaming's keyed dedup state: ``dropDuplicates``
on the key holds per-key state in the state store, so a URL seen in ANY
earlier micro-batch never re-emits. The exactness discipline carries
over — state-store lookups are exact, never probabilistic — and at the
10^10-URL design point the state backend is RocksDB, sharded by the same
key the batch path hash-partitions the crawl log on.

Two forms:

* **unbounded** (default) — exact across the stream lifetime, the true
  D1 contract; state grows with distinct URLs exactly as the crawl log
  does.
* **within-watermark** — ``dropDuplicatesWithinWatermark`` bounds state
  for feeds where re-discovery after the event-time horizon is
  acceptable (periodic re-crawl semantics): the hard never-refetch
  guarantee is traded for bounded state, and the horizon is the
  re-crawl interval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def first_seen_urls_stream(
    urls: DataFrame,
    key: str = "url_hash",
    event_time: str | None = None,
    within: str | None = None,
) -> DataFrame:
    """Pass each ``key`` through exactly once (first arrival wins).

    ``urls`` is a streaming DataFrame carrying ``key`` (and, for the
    bounded form, an ``event_time`` timestamp column). ``within`` (e.g.
    ``"7 days"``) selects the watermark-bounded form; it requires
    ``event_time``.
    """
    if within is not None:
        if event_time is None:
            raise ValueError("within-watermark dedup needs an event_time column")
        return urls.withWatermark(event_time, within).dropDuplicatesWithinWatermark(
            [key]
        )
    return urls.dropDuplicates([key])
