"""Benchmark of the engine, run from outside: see ``perfbench/run.py``."""
