"""Benchmark of the wikiprep-spark kg pipeline; entry point ``run.py``."""
