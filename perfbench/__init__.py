"""Benchmark harness for the crawlspark engine; see README.md."""
