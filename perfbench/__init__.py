"""Benchmark of the serving paths (see README.md)."""
