"""Benchmark for neleval_spark; run with ``python3 perfbench/run.py``."""
