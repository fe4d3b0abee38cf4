"""Benchmark of the engine: seeded workloads, output checks, tracing."""
