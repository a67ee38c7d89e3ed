"""Benchmark of the KG pipeline, the resumable runner and the dedup/ANN operators; see run.py."""
