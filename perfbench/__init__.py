"""Benchmark of the nearscan engine; see README.md."""
