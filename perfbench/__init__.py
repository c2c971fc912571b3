"""Standalone benchmark of the CDC engine (see perfbench/README.md).

Imports nothing from the engine at module level, so the helpers can be
tested without Spark.
"""
