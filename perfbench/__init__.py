"""Benchmark of the per-user Takeout DAG (see run.py)."""
