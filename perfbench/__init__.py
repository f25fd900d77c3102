"""Benchmark for blacklab_spark; see README.md."""
