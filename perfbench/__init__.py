"""Seeded end-to-end and per-layer benchmark of the kgraph_framework_spark package."""
