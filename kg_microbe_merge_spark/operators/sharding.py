"""Size-balanced output sharding via a two-level distributed prefix sum.

Training exports want ~equal-BYTE shards ("each output file ≈256 MB"),
not equal-row partitions — document sizes are heavy-tailed, so
``repartition(n)`` yields shards differing by the size skew.
``operators/packing.py`` lays tokens into fixed-budget sequences; this
lays ROWS into fixed-byte shards: every row gets the shard id
``floor(bytes_before_it / shard_bytes)`` under a deterministic global
order, so shard boundaries land exactly every ``shard_bytes`` bytes
regardless of row-size distribution, and the assignment is reproducible
across runs and partitionings.

The global running sum is the textbook two-level prefix sum — the same
shape a 1000-executor scan uses, never a single global window:

1. order rows by ``(bucket, h, id)`` where ``h`` is the portable
   60-bit id-hash and ``bucket = h mod n_buckets`` (hash order ≈
   size-independent interleaving, so consecutive shards sample the
   corpus uniformly rather than replaying ingest order);
2. ONE map-side-partial aggregation of per-bucket byte totals
   (``n_buckets`` rows), cumulated driver-side into bucket offsets;
3. a broadcast join of the offsets plus a per-bucket window running
   sum — each window partition holds ~``rows/n_buckets`` rows, so no
   task ever sees the whole corpus (the single-reducer curse a global
   ``ORDER BY`` cumsum would hit).

All arithmetic is integer (bytes, BIGINT cums), so the DuckDB oracle —
one global window over the identical order — matches value-for-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import hash60
from ..workerenv import local_relation


def assign_shards(
    df: DataFrame,
    shard_bytes: int,
    bytes_col: str = "n_chars",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    salt: str = "shard",
    out_col: str = "shard_id",
) -> DataFrame:
    """Add ``shard_id`` (BIGINT, 0-based) so that consecutive shards
    hold ~``shard_bytes`` bytes each under the deterministic hash
    order. Rows larger than ``shard_bytes`` own one-plus shards by
    construction (floor arithmetic), they never block the layout.

    ``n_buckets`` bounds the per-task window width at
    ``rows / n_buckets`` — size it so a bucket fits an executor
    (65 536 buckets ⇒ ~15 M rows/bucket at a trillion rows)."""
    if shard_bytes <= 0:
        raise ValueError(f"shard_bytes must be positive: {shard_bytes}")
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive: {n_buckets}")
    h = hash60(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(salt)))
    withb = df.withColumn("_h", h).withColumn(
        "_bucket", F.col("_h") % n_buckets
    )
    totals = (
        withb.groupBy("_bucket")
        .agg(F.sum(F.col(bytes_col).cast("long")).alias("_total"))
        .collect()
    )
    per_bucket = {r["_bucket"]: r["_total"] for r in totals}
    offsets, acc = [], 0
    for b in sorted(per_bucket):
        offsets.append((b, acc))
        acc += per_bucket[b]
    off_df = local_relation(
        df.sparkSession, offsets, "_bucket LONG, _offset LONG"
    )
    w = (
        Window.partitionBy("_bucket")
        .orderBy(F.col("_h"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_inclusive = F.sum(F.col(bytes_col).cast("long")).over(w)
    return (
        withb.join(F.broadcast(off_df), "_bucket")
        .withColumn(
            "_before",
            F.col("_offset") + cum_inclusive - F.col(bytes_col).cast("long"),
        )
        # integer division (div), NOT floor(double /): the double
        # quotient of two BIGINTs can round up across an integer
        # boundary above 2^53 bytes — real at corpus scale
        .withColumn(out_col, F.expr(f"_before div {int(shard_bytes)}"))
        .drop("_h", "_bucket", "_offset", "_before")
    )
