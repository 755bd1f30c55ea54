"""Steady-state benchmark of the feature-store engine (see README.md)."""
