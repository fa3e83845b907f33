"""Structured Streaming ingestion and incremental maintenance of the
events table and the merged KG. Import submodules directly; this package
imports nothing."""
