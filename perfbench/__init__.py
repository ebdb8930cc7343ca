"""Benchmark for the oboyu_spark engine; see README.md."""
