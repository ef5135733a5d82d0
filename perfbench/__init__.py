"""Benchmark for the engine: workloads, spans and metrics (see README.md)."""
