"""Benchmark for the query board and the CDC source and sink; see README.md."""
