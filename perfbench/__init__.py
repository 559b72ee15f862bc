"""Benchmark of the program's user workloads; see README.md."""
