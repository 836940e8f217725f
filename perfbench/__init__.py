"""Benchmark of the scip_spark engine (see README.md)."""
