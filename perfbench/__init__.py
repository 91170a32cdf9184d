"""Seeded benchmark of tsflex_spark; entry point ``perfbench/run.py``."""
