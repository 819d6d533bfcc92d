"""Iceberg-engine benchmark (see README.md)."""
