"""Benchmark of the rental-analytics engine; entry point: perfbench/run.py."""
