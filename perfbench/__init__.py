"""Benchmark for the transcript validator (see README.md)."""
