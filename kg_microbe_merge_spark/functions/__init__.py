"""Spark-side and Arrow-vectorized column functions: text extraction,
triple extraction, entity linking, hashing, and the quality, PII, URL and
session functions of the driver contract. Import submodules directly;
this package imports nothing."""
