"""Benchmark of the projcl_spark engine: seeded inputs, three closed-loop
workloads, output checks, end-to-end and per-layer metrics.  Entry point:
``python3 perfbench/run.py --help``."""
