"""Layered benchmark of the engine; entry point is ``run.py``."""
