"""Benchmark for the engine: see README.md in this directory."""
