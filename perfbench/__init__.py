"""Benchmark of the curation engine; see run.py."""
