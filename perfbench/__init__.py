"""Embedding-pipeline benchmark (see run.py)."""
