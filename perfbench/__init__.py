"""Seeded end-to-end and per-layer benchmark for cassandra_pmem_spark."""
