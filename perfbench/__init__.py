"""Benchmark of kalytical_spark, driven from outside the package (see README.md)."""
