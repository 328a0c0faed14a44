"""Benchmark for the Glue-catalog engine: seeded workloads, tracing and
result reporting.  Run ``python3 perfbench/run.py --help``."""
