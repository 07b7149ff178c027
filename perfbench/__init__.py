"""Seeded end-to-end and per-layer benchmark of gluestick_spark."""
