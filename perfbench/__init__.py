"""Benchmark for the ingestion service and the analytics registry; see
README.md in this directory."""
