"""One scaling-bench level: run the corpus→extract→triples→link→KG-edge
path on local[N] against a pre-materialized corpus and print one JSON
line. Invoked by scripts/scaling_bench.py once per parallelism level —
separate processes so each level gets a fresh JVM with exactly N cores.

Usage: python scripts/scaling_run.py <cores> <corpus_dir>
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from kg_microbe_merge_spark.functions.linking import link_mentions
from kg_microbe_merge_spark.functions.triples import triples_from_corpus
from kg_microbe_merge_spark.operators.merge import edges_merge_provenance
from kg_microbe_merge_spark.session import get_spark
from kg_microbe_merge_spark.sources.corpus import alias_dictionary


def main() -> None:
    cores = int(sys.argv[1])
    corpus_dir = sys.argv[2]
    spark = get_spark(
        app_name=f"scaling-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
    )
    corpus = spark.read.parquet(corpus_dir)
    aliases = alias_dictionary(spark)

    def build():
        triples = triples_from_corpus(corpus)
        linked = link_mentions(triples, aliases)
        edges = linked.select(
            F.col("subj").alias("subject"),
            F.concat(F.lit("biolink:"), F.col("pred")).alias("predicate"),
            F.col("obj").alias("object"),
            F.col("pred").alias("relation"),
            F.col("url").alias("knowledge_source"),
        )
        return edges_merge_provenance(edges)

    # Warm-up: one FULL untimed run — spins up the entire Python worker
    # pool (spark.python.worker.reuse keeps them), JITs the codegen, and
    # warms the OS page cache for the corpus files. Identical treatment
    # at both levels; the timed runs below are steady-state throughput,
    # which is what scales with cores on a long-running cluster.
    build().write.format("noop").mode("overwrite").save()

    # Best-of-accepted: this sandbox shares hardware (sporadic multi-
    # minute interference bursts inflate single samples 2-10×; observed
    # even with in-guest load ~1). Every timed pipeline run is bracketed
    # by a short pure-JVM codegen canary (same session, same cores); a
    # run is ACCEPTED only if both surrounding canaries are within 1.5×
    # of this level's best canary — i.e. the machine was quiet before
    # AND after. Sampling continues until >=3 accepted runs (capped),
    # so the reported wall never rests on samples taken inside a burst.
    import os

    n_runs = int(os.environ.get("SCALING_RUNS", "3"))
    max_attempts = max(3 * n_runs, n_runs + 6)

    def _stat():
        v = list(map(int, open("/proc/stat").readline().split()[1:]))
        return sum(v), v[3] + v[4]  # total, idle+iowait

    def _canary() -> float:
        h = F.col("id")
        for i in range(8):
            h = F.xxhash64(h, F.lit(i))
        job = (
            spark.range(0, 40_000_000 * cores, 1, cores * 4)
            .select(h.alias("h"))
            .agg(F.expr("bit_xor(h)").alias("s"))
        )
        t0 = time.monotonic()
        job.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    _canary()  # canary warm-up (codegen/JIT)
    walls: list[float] = []
    busy_cores: list[float] = []
    canaries: list[float] = []
    run_canaries: list[tuple[float, float]] = []
    c_prev = _canary()
    canaries.append(c_prev)
    for _ in range(max_attempts):
        t0 = time.monotonic()
        s0 = _stat()
        build().write.format("noop").mode("overwrite").save()
        dt = time.monotonic() - t0
        s1 = _stat()
        c_next = _canary()
        canaries.append(c_next)
        walls.append(dt)
        run_canaries.append((c_prev, c_next))
        # machine-wide busy HW threads during the run — quantifies the
        # REAL hardware footprint of this parallelism level (python
        # workers + Arrow serialization threads run outside the N task
        # slots local[N] nominally grants)
        busy_cores.append(((s1[0] - s0[0]) - (s1[1] - s0[1])) / 100.0 / dt)
        c_prev = c_next

        # Acceptance: (a) both bracketing canaries quiet (machine idle
        # before AND after), and (b) the wall within 1.3× of the level's
        # best wall so far — interference bursts that start and end
        # INSIDE a run evade the canary bracket (observed: quiet
        # canaries around a 3.5×-inflated local[32] run), but they
        # cannot fake a CLUSTER of fast runs. Sampling continues until
        # ≥3 runs are mutually consistent, so the reported minimum is
        # corroborated, never a lone sample.
        def _accepted() -> list[float]:
            best_c = min(canaries)
            best_w = min(walls)
            return [
                w
                for w, (ca, cb) in zip(walls, run_canaries)
                if ca <= 1.5 * best_c and cb <= 1.5 * best_c
                and w <= 1.3 * best_w
            ]

        if len(_accepted()) >= max(3, n_runs):
            break
    accepted = _accepted()
    # fall back to all samples if the machine never went quiet — the
    # report marks this via n_accepted
    wall = min(accepted) if accepted else min(walls)
    # triple count for the throughput numerator (cheap second pass over
    # the cached-size corpus is NOT used — count the extracted triples
    # only once, untimed, for the report)
    n_triples = triples_from_corpus(corpus).count()
    print(
        json.dumps(
            {
                "cores": cores,
                "wall_sec": round(wall, 2),
                "all_runs_sec": [round(w, 2) for w in walls],
                "accepted_runs_sec": [round(w, 2) for w in accepted],
                "n_accepted": len(accepted),
                "canary_sec": [round(c, 2) for c in canaries],
                "busy_hw_threads": round(busy_cores[walls.index(wall)], 1),
                "n_triples": n_triples,
                "triples_per_sec": round(n_triples / wall, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
