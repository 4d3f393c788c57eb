"""Benchmark for g_etl_spark: seeded workloads timed from outside the
engine. Entry point: ``python3 perfbench/run.py`` (see README.md)."""
