"""Seeded link-graph benchmark; see run.py."""
