"""Benchmark of the engine's two user pipelines; see README.md."""
