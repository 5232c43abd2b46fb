"""Benchmark of the radio reduction paths; see run.py."""
