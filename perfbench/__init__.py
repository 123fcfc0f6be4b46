"""Seeded, layered benchmark of the page pipeline and the query registry."""
