"""Extraction benchmark: see run.py."""
