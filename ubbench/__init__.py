"""Closed-loop benchmark of the ubparquet_spark engine (see README.md)."""
