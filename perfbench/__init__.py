"""Benchmark of the conversation-analytics engine; see ``run.py``."""
