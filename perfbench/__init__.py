"""Benchmark for sparkgatha: seeded workloads, oracles and tracing (see README.md)."""
