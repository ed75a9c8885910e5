"""Benchmark of the paper loop; run ``python3 perfbench/run.py --help``."""
