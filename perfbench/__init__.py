"""Benchmark of the datatest_spark validation engine (see README.md)."""
