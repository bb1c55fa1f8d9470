"""Standalone benchmark for the quality-filter engine (see README.md)."""
