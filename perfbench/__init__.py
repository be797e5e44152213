"""Benchmark of record for s2geography_spark; entry point perfbench/run.py."""
