"""Input sizes per workload, and the cache key they imply.

Kept free of Spark imports so ``run.py`` can name cache entries without
starting anything.
"""

from __future__ import annotations

import hashlib
import os

# kernel: raw frontier URLs, and seen keys in all (2/3 of the frontier plus
# synthetic keys the frontier never holds)
KERNEL = dict(n_frontier=50_000, n_seen=1_000_000)

# crawl: CrawlConfig corpus, budget and wave-count fields
CRAWL = dict(n_urls=20_000, n_hosts=400, n_seeds=2_000, budget_per_wave=2_000, max_waves=3)


def source_digest(root: str) -> str:
    """sha256 over the engine's and the benchmark's Python sources.

    Cached inputs and references are program output (frontier_gen, the key
    encoding, write_spark_corpus, simulate_crawl), so a change to any of
    these sources must make a new cache entry, not reuse an old one."""
    h = hashlib.sha256()
    for top in ("warc_bench_spark", "perfbench"):
        for dirpath, dirnames, files in os.walk(os.path.join(root, top)):
            dirnames[:] = sorted(d for d in dirnames if d not in ("__pycache__", "tests"))
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, root).encode() + b"\0")
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def cache_key(workload: str, seed: int, root: str) -> str:
    sizes = KERNEL if workload == "kernel" else CRAWL
    size = "-".join(str(v) for v in sizes.values())
    return f"{workload}-{size}-seed{seed}-src{source_digest(root)}"
