"""Benchmark of the entity-resolution engine; entry point ``run.py``."""
