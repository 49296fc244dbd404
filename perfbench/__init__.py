"""Benchmark of the extraction+redaction engine (see run.py and README.md)."""
