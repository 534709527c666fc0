"""Benchmark of radient_spark: workloads, tracing and metrics (see README.md)."""
