"""Replicator benchmark (see run.py)."""
