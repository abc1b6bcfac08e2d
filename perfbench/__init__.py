"""Standalone benchmark of the package; see README.md."""
