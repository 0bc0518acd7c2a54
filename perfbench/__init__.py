"""Benchmark of the term-similarity engine and its batch operators.

Run it from the repository root with ``python3 perfbench/run.py``; see
``perfbench/README.md`` for the workloads and metrics.
"""
