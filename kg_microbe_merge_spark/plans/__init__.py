"""Plans over the operators: the resumable web-KG pipeline, BGP/SPARQL,
Cypher and SQL query surfaces, bucketed materialization. Import submodules
directly; this package imports nothing."""
