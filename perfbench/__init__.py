"""Layered benchmark of the strom_spark engine; see README.md."""
