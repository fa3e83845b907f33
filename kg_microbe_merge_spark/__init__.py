"""kg_microbe_merge_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/merge semantics of
Knowledge-Graph-Hub/kg-microbe-merge (reference at /root/reference, studied
for behavior only — no code copied; the reference is DuckDB-SQL-codegen,
this engine is declarative DataFrame plans optimized by Catalyst).

Layout
------
- ``session``     SparkSession factory: sized from the CPUs this process
                  may run on, with cluster-scale defaults (AQE, skew
                  join, Arrow).
- ``sources``     KGX TSV multi-file union loader / sinks, synthetic corpus.
- ``operators``   merge (nodes group-merge, edge union, coverage check),
                  connected components, dedup family, similarity search,
                  multimodal plumbing.
- ``functions``   text extraction, triple extraction, entity linking,
                  text-analysis column functions — all JVM-side
                  ``pyspark.sql.functions`` or Arrow-vectorized pandas UDFs.
- ``plans``       end-to-end pipeline with checkpoint/resume + lineage.
- ``streaming``   Structured Streaming ingestion of the events table.
"""

__version__ = "0.1.0"

# Applied at import time, on the driver and in every Python worker that
# imports the package. Local sessions fork their workers from
# ``worker_daemon``, which imports it first; under a non-local master the
# workers depend on this line, reached when they unpickle a UDF defined in
# this package — see the workerenv docstring for the per-task cost it
# removes.
from kg_microbe_merge_spark.workerenv import (  # noqa: E402
    patch_zipimporter_invalidate_caches,
)

patch_zipimporter_invalidate_caches()
