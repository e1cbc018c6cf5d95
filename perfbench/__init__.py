"""Standalone benchmark for the engine; see run.py."""
