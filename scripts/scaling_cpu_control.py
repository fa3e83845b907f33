"""JVM compute control for the scaling measurement: a pure
whole-stage-codegen job (640M-row xxhash64 chain, trivial shuffle) run
at one parallelism level in a fresh JVM. Separates what the ENGINE can
scale from what this shared single-disk sandbox machine can supply
(python-worker footprint, shuffle disk, interference bursts).

Usage: python scripts/scaling_cpu_control.py <cores>  → one JSON line
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from kg_microbe_merge_spark.session import get_spark

N_ROWS = 640_000_000


def main() -> None:
    cores = int(sys.argv[1])
    spark = get_spark(
        app_name=f"cpu-control-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
    )

    def job():
        h = F.col("id")
        for i in range(12):
            h = F.xxhash64(h, F.lit(i))
        return (
            spark.range(0, N_ROWS, 1, 256)
            .select(h.alias("h"))
            .agg(F.expr("bit_xor(h)").alias("s"))
        )

    job().write.format("noop").mode("overwrite").save()  # warm-up
    walls = []
    for _ in range(3):
        t0 = time.monotonic()
        job().write.format("noop").mode("overwrite").save()
        walls.append(round(time.monotonic() - t0, 2))
    spark.stop()
    print(
        json.dumps(
            {"cores": cores, "wall_sec": min(walls), "all_runs_sec": walls}
        )
    )


if __name__ == "__main__":
    main()
