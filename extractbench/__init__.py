"""Benchmark of the resumable extraction job (see README.md)."""
