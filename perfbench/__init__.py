"""Benchmark for the trip engine; see README.md."""
