"""Operator library: stages, windows, stateful ops, streaming dedup,
rollups, M4 downsampling and data-quality monitoring."""
