"""Benchmark for the engine: see run.py."""
