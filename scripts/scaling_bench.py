"""Two-cluster-size scaling evidence (sandbox substitute per task rules):
run the identical pipeline on the identical seeded corpus at several
local[...] parallelism levels in separate JVMs, report absolute
throughput at every level plus scaling efficiency between each N→4N
pair, measure each level's REAL hardware footprint (busy HW threads),
and run a pure-JVM compute control at the top pair to separate what the
engine scales from what this shared single-disk machine can supply.
Writes BENCH/BASELINE.md + BENCH/scaling_last.json.

Usage: python scripts/scaling_bench.py [n_docs]
  SCALING_LEVELS=2,8,32 (default)   SCALING_RUNS=5 (default)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
BENCH_DIR = os.path.join(ROOT, "BENCH")

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 400000
LEVELS = tuple(
    int(x) for x in os.environ.get("SCALING_LEVELS", "2,8,32").split(",")
)
RUNS = os.environ.get("SCALING_RUNS", "5")


LEVEL_TIMEOUT = int(os.environ.get("SCALING_LEVEL_TIMEOUT", "2400"))


# Hard CPU-affinity enforcement (default ON): each level's whole process
# tree — JVM task threads, GC, AND the out-of-process Python UDF workers
# — is pinned to exactly N hardware threads with `taskset -c 0..N-1`.
# Without pinning, "local[2]" borrows ~3.1 HW threads for its Python
# workers (measured, see BASELINE.md history), deflating the low level's
# wall and with it the pair efficiency; a real N-core cluster allocation
# gives the executor AND its Python workers the same N cores, which is
# exactly what the pin models. Disable with SCALING_TASKSET=0 to
# reproduce the unpinned (footprint-drifting) view.
TASKSET = os.environ.get("SCALING_TASKSET", "1") != "0"


def _run(script: str, *args: str, cores: int | None = None) -> dict:
    """One measurement subprocess, with a hang cap + retry: local-mode
    PySpark can wedge when a Python worker's socket pair dies without
    EOF (observed: one executor thread parked in
    BasePythonRunner.ReaderInputStream forever, all workers idle). The
    level is killed after LEVEL_TIMEOUT seconds and retried in a fresh
    JVM — measurements already inside the run are simply discarded, the
    canary-acceptance protocol makes the retry unbiased."""
    last_err = None
    cmd = [sys.executable, script, *args]
    if TASKSET and cores:
        cmd = ["taskset", "-c", f"0-{cores - 1}" if cores > 1 else "0", *cmd]
    for attempt in range(3):
        try:
            out = subprocess.run(
                cmd,
                capture_output=True,
                text=True,
                cwd=ROOT,
                check=True,
                timeout=LEVEL_TIMEOUT,
                env={**os.environ, "SCALING_RUNS": RUNS},
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
            print(line)
            return json.loads(line)
        except (subprocess.TimeoutExpired, subprocess.CalledProcessError,
                IndexError) as e:  # noqa: PERF203
            last_err = e
            print(f"# level attempt {attempt + 1} failed: {type(e).__name__}",
                  file=sys.stderr)
            # local sessions start their workers from the package daemon
            subprocess.run(["pkill", "-9", "-f",
                            r"pyspark\.daemon|kg_microbe_merge_spark\.worker_daemon"],
                           check=False)
    raise RuntimeError(f"level failed after 3 attempts: {last_err}")


def main() -> None:
    with open("/proc/loadavg") as f:
        load_before = f.read().split()[:3]

    corpus_dir = os.path.join(tempfile.gettempdir(), f"scaling_corpus_{N_DOCS}")
    if not os.path.exists(corpus_dir):
        # generate once, many files so every level gets full read
        # parallelism without a repartition shuffle in the measured path
        from kg_microbe_merge_spark.session import get_spark
        from kg_microbe_merge_spark.sources.corpus import generate_corpus

        spark = get_spark(app_name="scaling-gen")
        generate_corpus(spark, N_DOCS, seed=42, partitions=256).write.mode(
            "overwrite"
        ).parquet(corpus_dir)
        spark.stop()

    results = {
        c: _run("scripts/scaling_run.py", str(c), corpus_dir, cores=c)
        for c in LEVELS
    }
    # JVM compute control at EVERY level (not just the top pair): the
    # per-pair control efficiency is the machine's same-window ceiling
    # for that pair, so pipeline/control is the control-NORMALIZED
    # efficiency — it attributes each pair's gap between the engine and
    # the shared box quantitatively.
    control = {
        c: _run("scripts/scaling_cpu_control.py", str(c), cores=c)
        for c in LEVELS
    }

    pairs = {}
    ctrl_pairs = {}
    norm_pairs = {}
    for n in LEVELS:
        if n * 4 in results:
            key = f"{n}->{n * 4}"
            tp_n = results[n]["triples_per_sec"]
            tp_4n = results[n * 4]["triples_per_sec"]
            pairs[key] = round(tp_4n / (4 * tp_n), 3)
            if n in control and n * 4 in control:
                ctrl_pairs[key] = round(
                    control[n]["wall_sec"] / (4 * control[n * 4]["wall_sec"]),
                    3,
                )
                norm_pairs[key] = round(pairs[key] / ctrl_pairs[key], 3)
    ctrl_eff = None
    if ctrl_pairs:
        # headline-pair control efficiency (kept for report continuity)
        ctrl_eff = list(ctrl_pairs.values())[-1]

    # headline: the brief's N->4N pair, chosen BY NAME (largest N with
    # 4N measured — local[8]->local[32] at the default levels), never an
    # unlabeled max over pairs; every pair is reported alongside it.
    headline_pair = None
    top_ns = [n for n in LEVELS if n * 4 in results]
    if top_ns:
        headline_pair = f"{top_ns[-1]}->{top_ns[-1] * 4}"
    summary = {
        "n_docs": N_DOCS,
        "levels": results,
        "pair_efficiencies": pairs,
        "jvm_control": control,
        "jvm_control_pair_efficiencies": ctrl_pairs,
        "control_normalized_pair_efficiencies": norm_pairs,
        "jvm_control_efficiency": ctrl_eff,
        "headline_pair": headline_pair,
        "scaling_efficiency": pairs.get(headline_pair) if headline_pair else None,
        "loadavg_at_start": load_before,
        "runs_per_level": int(RUNS),
        "cpu_pinned": TASKSET,
    }
    print(json.dumps(summary))

    os.makedirs(BENCH_DIR, exist_ok=True)
    with open(os.path.join(BENCH_DIR, "scaling_last.json"), "w") as f:
        json.dump(summary, f)

    # Windows archive: measured pair efficiencies swing with sandbox
    # co-tenancy that pinning + canaries cannot fully reject (memory
    # bandwidth, not cores) — a single window over- or under-states the
    # engine. Every run appends here and BASELINE.md renders the full
    # distribution, so the claim rests on all windows, not the best one.
    summary["measured_at"] = time.strftime("%Y-%m-%dT%H:%M:%S")
    with open(os.path.join(BENCH_DIR, "scaling_windows.jsonl"), "a") as f:
        f.write(json.dumps(summary) + "\n")
    windows = []
    with open(os.path.join(BENCH_DIR, "scaling_windows.jsonl")) as f:
        for line in f:
            if line.strip():
                windows.append(json.loads(line))

    import scaling_report

    with open(os.path.join(BENCH_DIR, "BASELINE.md"), "w") as f:
        f.write(scaling_report.render(summary, windows))
    print(f"wrote {os.path.join(BENCH_DIR, 'BASELINE.md')}")


if __name__ == "__main__":
    main()
