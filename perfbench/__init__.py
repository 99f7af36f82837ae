"""Benchmark for pylluminator_spark: see README.md."""
