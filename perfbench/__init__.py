"""Benchmark of the live engine: see README.md."""
