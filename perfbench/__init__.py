"""Benchmark of the engine's scheduled pipelines and registry queries."""
