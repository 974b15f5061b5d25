"""Benchmark of the grenad_spark engine: see perfbench/METRICS.md."""
