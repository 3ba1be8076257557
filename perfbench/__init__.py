"""Benchmark of the ingest path and the streaming dedup gate; see README.md."""
