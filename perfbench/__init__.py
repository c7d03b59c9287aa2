"""Benchmark of the colcodec engine; see README.md."""
