"""Benchmark of ondine_spark: seeded workloads, reference checks, tracing."""
