"""Benchmark of mr_python_spark; run it with ``python3 perfbench/run.py``."""
