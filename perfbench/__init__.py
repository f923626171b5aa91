"""Benchmark of the realtime0523_spark engine; see README.md."""
