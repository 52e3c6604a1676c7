"""Benchmark of the nightly DAG, its lakehouse reads and its layers (see README.md)."""
