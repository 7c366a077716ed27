"""Benchmark of the mindocr_spark extraction engine; run ``perfbench/run.py``."""
