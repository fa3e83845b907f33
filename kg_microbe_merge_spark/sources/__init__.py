"""Readers and writers: KGX TSV, RDF, JSONL, merge input discovery, the
seeded synthetic corpus. Import submodules directly; this package imports
nothing."""
