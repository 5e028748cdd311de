"""Seeded end-to-end and per-layer benchmark of lucille_spark (see README.md)."""
