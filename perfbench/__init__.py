"""Seeded, oracle-checked benchmark for the CDC ingest and SPARQL-star
serving paths (see perfbench/README.md)."""
