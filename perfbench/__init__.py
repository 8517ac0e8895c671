"""Benchmark for the drift engine: see README.md."""
