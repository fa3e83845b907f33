"""SQL passthrough surface — parity with the reference's kg-chat query
commands (Q2, run.py:276-381 behavior): ad-hoc SQL over the merged KG.

The reference shells out to DuckDB/Neo4j; here the engine IS the SQL
engine — register the node/edge DataFrames as temp views and run
``spark.sql``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def register_kg_views(
    spark: SparkSession,
    nodes: DataFrame | None = None,
    edges: DataFrame | None = None,
    nodes_name: str = "nodes",
    edges_name: str = "edges",
) -> None:
    """Expose merged KG tables to SQL (reference: ``SELECT * FROM nodes
    LIMIT 10`` through kg-chat)."""
    if nodes is not None:
        nodes.createOrReplaceTempView(nodes_name)
    if edges is not None:
        edges.createOrReplaceTempView(edges_name)


def query(spark: SparkSession, sql: str) -> DataFrame:
    """Run an ad-hoc SQL query against the registered views."""
    return spark.sql(sql)
