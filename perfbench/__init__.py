"""Benchmark of the crawl engine; see README.md in this directory."""
