"""perfbench — the repository's end-to-end and per-layer benchmark.

Entry point: ``python3 perfbench/run.py --workload <kernel|crawl> --seed N
--seconds S --trace 0|1`` from the repository root. See ``run.py`` for the
process layout and ``BENCHMARK.json`` for the metric contract.
"""
