"""Benchmark of the hOCR de-noising engine; see run.py."""
