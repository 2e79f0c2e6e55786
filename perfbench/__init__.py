"""Benchmark of the ingest path, pruned reads and the query mix (see run.py)."""
