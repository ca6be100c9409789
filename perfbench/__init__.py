"""Seeded benchmark of the KG update, refresh and query paths (see README.md)."""
