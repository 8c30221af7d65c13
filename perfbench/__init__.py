"""Seeded end-to-end and per-layer benchmark for the dedup engine; the
entry point is ``perfbench/run.py``."""
