"""Benchmark of the crawl engine and the data pipeline (see README.md)."""
