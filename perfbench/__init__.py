"""End-to-end and per-layer benchmark of prague_spark (see README.md)."""
