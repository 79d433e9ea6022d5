"""Benchmark of the tika_spark extraction job; run ``perfbench/run.py``."""
