"""Benchmark of the market engine: seeded workloads, checks, tracing."""
