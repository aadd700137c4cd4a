"""Benchmark of the mundipy_spark spatial engine; run ``spatialbench/run.py``."""
