"""Benchmark of the streaming engine: workloads, tracing and helpers."""
