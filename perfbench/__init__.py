"""The benchmark of record (see README.md)."""
