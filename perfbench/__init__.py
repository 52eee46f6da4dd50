"""Benchmark of the bertrand_spark engine; see README.md in this directory."""
