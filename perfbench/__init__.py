"""Layered benchmark of the spatial4n_spark engine (see README.md)."""
