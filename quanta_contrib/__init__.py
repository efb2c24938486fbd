"""Batch analytics, media codecs and the operator query registry.

Kept apart from ``quanta_spark``, the streaming engine: nothing in
``quanta_spark`` imports this package (tests/test_reachability.py
checks it). Modules mirror the engine's layout and import its
primitives where they share them.
"""
