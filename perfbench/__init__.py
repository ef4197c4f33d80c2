"""Benchmark of the ask/sql loop and the operator pipeline; see run.py."""
