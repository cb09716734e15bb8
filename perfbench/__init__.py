"""Benchmark for the lakehouse engine; see README.md and ``run.py``."""
