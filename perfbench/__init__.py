"""Benchmark of the spark-graft engine: see run.py and METRICS.md."""
