"""Layered benchmark for the weather engine; see README.md and run.py."""
