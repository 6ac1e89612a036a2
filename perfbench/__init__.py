"""Benchmark of the dedup engine: timed workloads and a traced layer sweep."""
