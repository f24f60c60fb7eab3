"""Layered benchmark of the full-text engine (see README.md)."""
