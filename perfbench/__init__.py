"""Benchmark of the analytics engine: see run.py."""
