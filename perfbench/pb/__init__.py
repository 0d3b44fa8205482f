"""Benchmark harness for docarray_spark: seeded workloads, closed-loop
drivers, output checks and the traced per-layer breakdown."""
