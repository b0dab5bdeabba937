"""Benchmark of the orange3_spark engine; run ``python3 perfbench/run.py --help``."""
