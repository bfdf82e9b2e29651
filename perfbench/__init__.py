"""Seeded end-to-end and per-layer benchmark for fourmc_spark (see README.md)."""
