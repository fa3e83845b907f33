"""Hub-skew demonstration for the salted two-phase node merge.

Builds a KGX-shaped node table where ONE hub id owns a large fraction
of all rows (the 100 TB failure mode: a hub entity like a country or a
ubiquitous chemical accumulates millions of duplicate rows, and a
single-phase groupBy sends them all to one reducer). Compares wall
clock and verifies value-equality of plain vs salted `nodes_merge`.

Usage: python scripts/skew_demo.py [n_rows] [hub_fraction]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from kg_microbe_merge_spark.operators.merge import (
    nodes_merge,
    nodes_merge_skew_aware,
)
from kg_microbe_merge_spark.session import get_spark

N_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
HUB_FRACTION = float(sys.argv[2]) if len(sys.argv) > 2 else 0.5


def main() -> None:
    spark = get_spark(app_name="skew-demo")
    n_hub = int(N_ROWS * HUB_FRACTION)
    base = spark.range(N_ROWS, numPartitions=256)
    rows = base.select(
        F.when(F.col("id") < n_hub, F.lit("HUB:0"))
        .otherwise(F.concat(F.lit("N:"), (F.col("id") % 200_000)))
        .alias("id"),
        F.concat(F.lit("cat_"), (F.col("id") % 7)).alias("category"),
        F.concat(F.lit("name_"), (F.col("id") % 1000)).alias("name"),
        F.concat(F.lit("src_"), (F.col("id") % 5)).alias("provided_by"),
        F.concat(F.lit("X:"), (F.col("id") % 2000)).alias("xref"),
    )
    rows.write.mode("overwrite").parquet("/tmp/skew_nodes")
    nodes = spark.read.parquet("/tmp/skew_nodes")

    variants = {
        "plain": lambda: nodes_merge(nodes, ["src_0"]),
        "salted_all_32": lambda: nodes_merge(nodes, ["src_0"], salt_buckets=32),
        "skew_aware": lambda: nodes_merge_skew_aware(
            nodes, ["src_0"], heavy_threshold=100_000, salt_buckets=32
        ),
    }
    results = {}
    for label, build in variants.items():
        t0 = time.monotonic()
        build().write.format("noop").mode("overwrite").save()
        results[label] = round(time.monotonic() - t0, 2)

    # value equality on a sample of ids incl. the hub
    sample = lambda df: sorted(  # noqa: E731
        map(tuple, df.filter(F.col("id").isin("HUB:0", "N:0", "N:199999")).collect())
    )
    plain_rows = sample(variants["plain"]())
    for label in ("salted_all_32", "skew_aware"):
        assert sample(variants[label]()) == plain_rows, f"{label} value mismatch"

    print(json.dumps({
        "n_rows": N_ROWS,
        "hub_rows": n_hub,
        "wall_sec": results,
        "values_equal": True,
    }))


if __name__ == "__main__":
    main()
