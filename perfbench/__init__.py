"""Benchmark of the tantivy_spark engine; entry point ``perfbench/run.py``."""
