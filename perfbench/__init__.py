"""Benchmark for the ts2g2_spark rollup, tier-serving and segment-graph
jobs.  Run `python3 perfbench/run.py --help`; see perfbench/README.md."""
