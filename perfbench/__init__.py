"""Benchmark of the ER engine: workloads, generator, tracing."""
