"""The repository benchmark: one seeded workload per run, closed loop,
one client, one ``local[nproc]`` Spark session.

    python3 perfbench/run.py --workload kgx_merge --seed 1 --seconds 10 --trace 0

Run from the repository root. Human-readable metrics go to stdout; the
last stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` holding the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``). Exits non-zero when an output check
fails. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
DRIVER_HEAP = "1g"

LAYERS = [
    "sources",
    "functions.extract",
    "functions.triples",
    "functions.linking",
    "operators.components",
    "operators.merge",
    "operators.upsert",
    "plans.pipeline",
    "plans.bgp",
]
GENERIC = ["jobs", "tasks", "executor_run_s", "shuffle_write_mb", "spill_mb", "slot_idle_share"]


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q / 100.0 * len(s) + 0.5)) - 1))]


def tail(xs: list[float]) -> tuple[float, int]:
    """The highest integer percentile with at least ten samples beyond it
    (p50 when there are too few samples for any), and its value."""
    q = 50
    for cand in (99.9, 99, 95, 90, 75, 50):
        if len(xs) * (1 - cand / 100.0) >= 10:
            q = cand
            break
    return percentile(xs, q), q


def expected(xs: list[float]) -> float:
    """Expected duration of the next op: an op of which less than half
    would fit before the deadline is not started, so a run lasts about
    ``--seconds``."""
    return statistics.median(xs) / 2 if xs else 0.0


def start_session(work: str, slots: int, traced: bool):
    """Size the session for this machine from the benchmark itself: the
    package reads SPARK_GRAFT_CPUS at import, and a later ``get_spark()``
    call (the CLI makes one) re-applies shuffle and split sizing from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included, keeps its temp and
    # perf-data files out of /tmp; JIT compiler threads never exit, so
    # the CPU clock can leave their time out (spans.cpu_clock)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ.pop("SPARK_MASTER", None)
    sys.path.insert(1, ROOT)  # after perfbench/, before site-packages
    import kg_microbe_merge_spark

    pkg = os.path.dirname(os.path.abspath(kg_microbe_merge_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        raise SystemExit(f"kg_microbe_merge_spark imported from {pkg}, not from this checkout")
    from kg_microbe_merge_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{slots}]",
        shuffle_partitions=slots,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage back from the status
            # store; an untraced one keeps Spark's default, as a job would
            **({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}
               if traced else {}),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    from spans import descendants

    proc = SparkContext._gateway.proc
    pids = [p for p in descendants(proc.pid) if p != proc.pid]
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().split(")")[-1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


def layer_metrics(spans, slots: int, n_ops: int, extras: dict) -> dict:
    from spans import layer_totals, scan_totals

    m: dict[str, float] = {}
    for layer in LAYERS:
        tot = scan_totals(spans, slots) if layer == "sources" else layer_totals(spans, layer, slots)
        for k in GENERIC:
            m[f"{layer}.{k}"] = tot[k] if k == "slot_idle_share" else tot[k] / n_ops
        if layer == "sources":
            for k in ("scan_s", "rows_in", "bytes_in"):
                m[f"sources.{k}"] = tot[k] / n_ops
        elif layer.startswith("functions.") or layer == "operators.components":
            m[f"{layer}.busy_s"] = tot["busy_s"] / n_ops

    def span_sum(name, **attrs):
        return sum(
            s["wall_s"] for s in spans
            if s["name"] == name and all(s.get(k) == v for k, v in attrs.items())
        ) / n_ops

    for part in ("nodes", "edges", "coverage"):
        m[f"operators.merge.{part}_s"] = span_sum("operators.merge", part=part)
    m["operators.upsert.fold_s"] = span_sum("operators.upsert")
    up = [s for s in spans if s["name"] == "operators.upsert"]
    m["operators.upsert.snapshot_rows_scanned"] = sum(
        st["input_rows"] for s in up for st in s["counters"]["scan_stages"]
    ) / n_ops
    m["plans.pipeline.commit_s"] = span_sum("plans.pipeline", commit=True)
    m["plans.bgp.query_s"] = span_sum("plans.bgp")
    for k in ("functions.extract.docs_in", "functions.triples.triples_out",
              "functions.linking.linked_ratio", "operators.merge.dup_ratio",
              "plans.pipeline.stages_committed", "plans.bgp.solutions"):
        m[k] = extras.get(k, 0.0)
    return m


def run(args) -> int:
    slots = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.perf_counter()
    spark = start_session(work, slots, bool(args.trace))
    spark.range(1).count()
    startup_s = time.perf_counter() - t0

    from pyspark import SparkContext

    from spans import RssSampler, Tracer, cpu_clock
    from workloads import WORKLOADS

    rss = RssSampler(SparkContext._gateway.proc.pid)
    rss.start()
    try:
        wl = WORKLOADS[args.workload](
            spark, args.seed, work, cpu_clock(rss, SparkContext._gateway.proc.pid)
        )
        setups = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t)
        tracer = Tracer(spark, slots) if args.trace else None

        attempted = failed = 0
        samples: dict[str, list[float]] = {"job_s": [], "job_cpu_s": [], "fold_s": [], "query_s": []}
        traced_job = []
        i = 0

        def one(i, traced):
            nonlocal attempted, failed
            attempted += wl.ops_per_round
            try:
                res = wl.op(i, tracer if traced else None)
            except Exception:
                traceback.print_exc()
                failed += wl.ops_per_round
                return None
            if not res["ok"]:
                print(f"output check failed on op {i}", file=sys.stderr)
                failed += 1
            return res

        # warm-up: JIT, codegen cache, Python workers. A traced run compares
        # traced with untraced ops, so it always warms up first.
        t = time.perf_counter()
        warmup_job = []
        for i in range(max(wl.warmup_ops, args.trace)):
            res = one(i, False)
            if res is not None:
                warmup_job.append(res["job_s"])
        warmup_s = time.perf_counter() - t
        i += 1
        # peak RSS per timed op, reported as the median: the cold op's
        # JIT-compiler and codegen spikes, and a GC that lands in one op
        # only, vary from run to run by hundreds of MB
        rss_peaks: list[float] = []
        deadline = time.perf_counter() + args.seconds
        # past the deadline, keep going only until each kind of op has
        # succeeded once
        while failed < 3 and (
            time.perf_counter() + expected(samples["job_s"] + traced_job) < deadline
            or not samples["job_s"] or (args.trace and not traced_job)
        ):
            # traced runs alternate traced and untraced ops so the
            # overhead is measured under the same conditions
            traced = bool(args.trace) and i % 2 == 1
            rss.reset()
            res = one(i, traced)
            i += 1
            if res is None:
                continue
            if not traced:
                rss_peaks.append(rss.peak_mb)
            (traced_job if traced else samples["job_s"]).append(res["job_s"])
            for k in ("job_cpu_s", "fold_s", "query_s"):
                if k in res and not traced:
                    samples[k].append(res[k])
        t = time.perf_counter()
        failed += wl.finish()
        finish_s = time.perf_counter() - t
    except BaseException:
        stop_session(spark)
        raise
    finally:
        rss.stop()
    if not samples["job_s"] or (args.trace and not traced_job):
        stop_session(spark)
        print("no operation succeeded", file=sys.stderr)
        return 1

    job_wall = statistics.median(samples["job_s"])
    report = {
        "setup_s": (startup_s + statistics.median(setups), "s"),
        "job_wall_s": (job_wall, "s"),
        "job_cpu_s": (statistics.median(samples["job_cpu_s"]), "s"),
        "rows_per_s": (wl.rows_per_op / job_wall, "rows/s"),
        "peak_rss_mb": (statistics.median(rss_peaks), "MB"),
        "error_rate": (failed / attempted, "ratio"),
    }
    tails = {}
    for k, name in (("fold_s", "fold"), ("query_s", "query")):
        if samples[k]:
            report[f"{name}_p50_s"] = (statistics.median(samples[k]), "s")
            v, q = tail(samples[k])
            report[f"{name}_tail_s"] = (v, "s")
            tails[f"{name}_tail_s"] = f"p{q:g} of {len(samples[k])} samples"
    for k, v in wl.report().items():
        report[k] = (v, "ratio")
    print(f"workload={args.workload} seed={args.seed} slots={slots} "
          f"ops={len(samples['job_s'])} traced_ops={len(traced_job)} "
          f"attempted={attempted} failed={failed}")
    print(f"  session start {startup_s:.3f} s; setup reps "
          + ", ".join(f"{s:.3f}" for s in setups)
          + f" s; warm-up ({wl.warmup_ops} ops) {warmup_s:.3f} s; final checks {finish_s:.3f} s")
    print(f"  warm-up op times ({len(warmup_job)}) " + "".join(f"{s:.3f} s, " for s in warmup_job)
          + "op times " + ", ".join(f"{s:.3f}" for s in samples["job_s"]) + " s, op CPU times "
          + ", ".join(f"{s:.2f}" for s in samples["job_cpu_s"]) + " s")
    for name in ("setup_s", "job_wall_s", "job_cpu_s", "rows_per_s", "fold_p50_s", "fold_tail_s",
                 "query_p50_s", "query_tail_s", "peak_rss_mb", "error_rate",
                 "triple_precision", "triple_recall"):
        if name in report:
            v, unit = report[name]
            note = f"  ({tails[name]})" if name in tails else ""
            print(f"  {name:<18} {v:.6g} {unit}{note}")
        else:
            print(f"  {name:<18} n/a (not measured by {args.workload})")

    if args.trace:
        tracer.collect()
        n_traced = len(traced_job)
        metrics = layer_metrics(tracer.spans, slots, n_traced, wl.layer_extras(n_traced))
        metrics["session.startup_s"] = startup_s
        metrics["trace.overhead_s"] = statistics.median(traced_job) - job_wall
        spans_path = os.path.join(ROOT, ".bench_work", f"spans-{args.workload}-{args.seed}.json")
        tracer.dump(spans_path)
        print(f"  spans: {spans_path}")
        for k in sorted(metrics):
            print(f"  {k:<44} {metrics[k]:.6g}")
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    else:
        out = {
            k: {"value": report[k][0], "unit": report[k][1]}
            for k in ("job_cpu_s", "setup_s", "peak_rss_mb")
        }
    stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0 if correct else 1


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last == "bytes_in":
        return "bytes"
    if last.endswith("_share") or last.endswith("_ratio"):
        return "ratio"
    return "count"


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["webkg_build", "kgx_merge", "canonicalize", "kg_incremental"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    sys.exit(run(p.parse_args()))


if __name__ == "__main__":
    main()
