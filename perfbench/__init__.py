"""End-to-end and per-layer benchmark of the KG engine (see README.md)."""
