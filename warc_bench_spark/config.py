"""CrawlConfig — the deterministic crawl spec, in one place.

The reference's crawl loop (see SURVEY.md §3.1;
``/root/reference/src/orby/trajectory_collector/ray_scripts/
parallel_computing_controller.py:354-447``) is wall-clock + actor driven and
therefore nondeterministic. Our engine replaces every nondeterministic input
with a pure function of this config (SURVEY.md §7.3):

* wall-clock politeness  -> virtual time (``operators/politeness.py``)
* ``random.choice(action_urls)`` -> seeded hash choice (``synth.py``)
* uuid ids -> content hashes (sha256, mirroring
  ``parallel_computing_tasks.py:209-211``)
* Ray as-completed result order -> explicit ``orderBy(seq)``

Both the Spark engine (``operators/crawl.py``) and the pure-Python reference
simulator (``simulator.py``) consume exactly this object, so the golden
crawl-order / URL-seen equality tests are a pure function of (corpus, config).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import ClassVar


@dataclass(frozen=True)
class CrawlConfig:
    """All knobs of the deterministic crawl.

    Politeness model (virtual-time lift of the reference's sliding-window
    rate limiter, ``frequency_limiter.py:24-47``, 100 req / 60 s default per
    ``parallel_computing_controller.py:33``):

    * Per host ``h`` with crawl delay ``d(h)`` ms (robots table, default
      ``default_delay_ms``): the k-th URL of ``h`` scheduled in a wave
      (k = 0,1,.. in per-host order ``(priority asc, url_hash asc)``) gets
      virtual time  ``vt = max(k * d(h), floor(k / window_limit) * window_ms)``.
      The second term is the window rule: at most ``window_limit`` fetches of
      one host per ``window_ms`` of virtual time.
    * Global admission order within a wave: ``(vt asc, priority asc,
      url_hash asc)`` — a total order (url_hash is unique per candidate).
    * Wave budget: the first ``budget_per_wave`` rows of that order are
      fetched; the rest stay in the frontier (the global rate limit of the
      reference — requests per window — expressed as work per wave).
    """

    seed: int = 42

    # corpus shape (synth.py)
    n_hosts: int = 20
    n_urls: int = 1000
    n_seeds: int = 25
    zipf_alpha: float = 1.2
    outlinks_min: int = 1
    outlinks_max: int = 6
    spans_per_doc_max: int = 8
    frac_media_spans: float = 0.3
    frac_schemeless_urls: float = 0.15
    frac_volatile_params: float = 0.3
    n_disallow_hosts_frac: float = 0.3  # fraction of hosts with robots rules

    # politeness / scheduling
    default_delay_ms: int = 1000
    window_limit: int = 10       # per-host fetches per window_ms of virtual time
    window_ms: int = 60_000      # mirrors the 60 s window, frequency_limiter.py:12-22
    budget_per_wave: int = 200   # mirrors request_limit=100..200, controller.py:33,421-426
    max_waves: int = 50

    # skew handling (north_rule: explicit skew splitting for hot domains)
    hot_host_threshold: int = 5000   # pending URLs above which a host is range-split

    # dedup
    bloom_shards: int = 8
    bloom_bits_per_shard: int = 1 << 20
    bloom_hashes: int = 4

    # engine. The partition count of its writes is no crawl knob: it is
    # the session's spark.sql.shuffle.partitions, which get_spark sizes to
    # the machine (CrawlEngine._partitions). url_hash is always the 32-byte
    # digest (functions.urls.url_identity).
    binary_url_hash: ClassVar[bool] = True  # not a field: perfbench reads it
    # rewrite the crawl_log append table (whose url_hash column is the
    # URL-seen set) as one compact version every N waves — the small-files
    # control an Iceberg deployment would get from rewrite_data_files
    compact_every: int = 16

    def host_name(self, i: int) -> str:
        return f"host{i:04d}.example.com"
