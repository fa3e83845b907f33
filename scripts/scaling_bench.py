"""Scaling efficiency of the plan the product runs: ``run_pipeline`` at N
and 4N CPUs, with N a quarter of the CPUs this process may run on.

The ``corpus`` stage is committed once into a template work dir, with
``run_pipeline``'s fingerprint. Each level then runs in a fresh
interpreter pinned to its N CPUs before its JVM starts, so the JVM and
the Python workers it forks run on those CPUs only, under
``local[N]``: one untimed warm-up run, then ``RUNS`` timed runs, each on
a fresh copy of the template. Every run must resume from the committed
corpus, and every run at every level must commit the same row counts
per stage. Efficiency is median wall(N) / (4 x median wall(4N)).

Prints one JSON line and writes it to ``BENCH/scaling_last.json``.

Usage: python scripts/scaling_bench.py [n_docs]   (default 100000)
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import shutil
import statistics
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SEED = 42
RUNS = 5
#: one heap at every level, the tests' size
SESSION = {"spark.driver.memory": "4g"}


def _in_fresh_interpreter(fn, *args):
    """``fn(*args)`` in a spawned child: a JVM of its own, and a failure
    raised here."""
    with ProcessPoolExecutor(1, mp_context=mp.get_context("spawn")) as ex:
        return ex.submit(fn, *args).result()


def _commit_corpus(template: str, n_docs: int) -> dict:
    """Commit the ``corpus`` stage as ``run_pipeline`` would; return its
    manifest entry."""
    from kg_microbe_merge_spark.plans.pipeline import PipelineRun
    from kg_microbe_merge_spark.session import get_spark
    from kg_microbe_merge_spark.sources.corpus import generate_corpus

    spark = get_spark(app_name="scaling-corpus", extra_conf=SESSION)
    run = PipelineRun(spark, template)
    run.stage(
        "corpus",
        lambda: generate_corpus(spark, n_docs, SEED),
        f"seed={SEED};n={n_docs}",
        metrics_key="url",
    )
    spark.stop()
    return run.manifest["corpus"]


def _level(cpus: list[int], template: str, corpus: dict, n_docs: int) -> dict:
    """Warm-up plus ``RUNS`` timed ``run_pipeline`` runs on ``cpus``."""
    os.sched_setaffinity(0, cpus)
    from kg_microbe_merge_spark.plans.pipeline import PipelineRun, run_pipeline
    from kg_microbe_merge_spark.session import get_spark

    n = len(cpus)
    spark = get_spark(
        app_name=f"scaling-{n}", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=SESSION,
    )
    walls, rows = [], None
    for i in range(1 + RUNS):
        work = f"{template}-{n}-{i}"
        shutil.copytree(template, work)
        t0 = time.perf_counter()
        run_pipeline(spark, work, n_docs=n_docs, seed=SEED)
        wall = time.perf_counter() - t0
        manifest = PipelineRun(spark, work).manifest
        shutil.rmtree(work)
        if manifest["corpus"] != corpus:
            raise RuntimeError(f"local[{n}] run {i} did not resume from the committed corpus")
        got = {stage: entry["rows"] for stage, entry in manifest.items()}
        if rows not in (None, got):
            raise RuntimeError(f"local[{n}] run {i} committed {got}, an earlier run {rows}")
        rows = got
        if i:
            walls.append(round(wall, 3))
    spark.stop()
    return {"walls_s": walls, "stage_rows": rows}


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) < 4:
        sys.exit(f"scaling_bench needs 4 CPUs for an N -> 4N pair; it may run on {len(cpus)}")
    levels = (len(cpus) // 4, len(cpus) // 4 * 4)
    load = os.getloadavg()
    with tempfile.TemporaryDirectory(prefix="scaling_bench_") as tmp:
        template = os.path.join(tmp, "template")
        corpus = _in_fresh_interpreter(_commit_corpus, template, n_docs)
        results = {
            n: _in_fresh_interpreter(_level, cpus[:n], template, corpus, n_docs)
            for n in levels
        }
    rows = {n: r.pop("stage_rows") for n, r in results.items()}
    if rows[levels[0]] != rows[levels[1]]:
        raise RuntimeError(f"levels committed different rows: {rows}")
    for r in results.values():
        q1, median, q3 = statistics.quantiles(r["walls_s"], n=4)
        r.update(median_s=round(median, 3), q1_s=round(q1, 3), q3_s=round(q3, 3))
    low, high = (results[n]["median_s"] for n in levels)
    summary = {
        "host_cpus": len(cpus),
        "n_docs": n_docs,
        "seed": SEED,
        "runs_per_level": RUNS,
        "levels": {f"local[{n}]": results[n] for n in levels},
        "stage_rows": rows[levels[0]],
        "efficiency": round(low / (4 * high), 3),
        "loadavg_at_start": [round(x, 2) for x in load],
        "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    line = json.dumps(summary)
    print(line)
    os.makedirs(os.path.join(ROOT, "BENCH"), exist_ok=True)
    with open(os.path.join(ROOT, "BENCH", "scaling_last.json"), "w") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
