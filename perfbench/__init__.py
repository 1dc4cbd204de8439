"""End-to-end and per-layer benchmark of the weather pipeline (see README.md)."""
