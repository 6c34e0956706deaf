"""Benchmark for versa_spark; entry point ``perfbench/run.py``."""
