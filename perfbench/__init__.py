"""Benchmark for the skewer_spark pipeline; entry point run.py."""
