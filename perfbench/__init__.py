"""Benchmark for the gravity-books PySpark engine: see run.py."""
