"""The repository benchmark: end-to-end and per-layer numbers for the
crawl engine and the headline queries. Run it with

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 15 --trace 0

from the repository root; see perfbench/README.md."""
