"""Span recorder, Spark counter collector, process-tree RSS sampler and
CPU clock.

Spans are recorded by the benchmark around its calls into the package's
layers. Each open span sets its own Spark job group, so every job the
span's code triggers is attributed to the innermost open span; the
counters are read back from Spark's status store once, at the end of
the run. Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_GROUP_PREFIX = "perfbench-span-"
_COUNTERS = ("jobs", "tasks", "executor_run_s", "shuffle_write_mb", "spill_mb",
             "input_rows", "input_mb")


class Tracer:
    def __init__(self, spark, slots: int):
        self.sc = spark.sparkContext
        self.slots = slots
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self, span_id: int | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if span_id is None else f"{_GROUP_PREFIX}{span_id}"
        )

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; ``name`` is a layer such as
        ``operators.merge``. The yielded dict takes extra attributes."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def collect(self) -> None:
        """Attach Spark counters and self time to every span."""
        jvm = self.sc._jvm
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        as_list = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        no_filter = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        stages: dict[int, dict] = {}
        for st in as_list(store.stageList(no_filter, False, False, no_quantiles, no_filter)):
            d = stages.setdefault(st.stageId(), {
                "tasks": 0, "executor_run_s": 0.0, "shuffle_write_mb": 0.0,
                "spill_mb": 0.0, "input_rows": 0, "input_mb": 0.0, "wall_s": 0.0,
            })
            d["tasks"] += st.numCompleteTasks()
            d["executor_run_s"] += st.executorRunTime() / 1000.0
            d["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            d["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
            d["input_rows"] += st.inputRecords()
            d["input_mb"] += st.inputBytes() / 1e6
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined() and done.isDefined():
                d["wall_s"] += (done.get().getTime() - sub.get().getTime()) / 1000.0
        by_span: dict[int, dict] = {s["id"]: dict.fromkeys(_COUNTERS, 0) for s in self.spans}
        for s in self.spans:
            by_span[s["id"]].update(scan_stages=[], scan_jobs=0)
        seen_stages: set[int] = set()
        jobs = sorted(as_list(store.jobsList(no_filter)), key=lambda j: j.jobId())
        for job in jobs:
            group = job.jobGroup()
            if not group.isDefined() or not group.get().startswith(_GROUP_PREFIX):
                continue
            c = by_span.get(int(group.get()[len(_GROUP_PREFIX):]))
            if c is None:
                continue
            c["jobs"] += 1
            n_scan = len(c["scan_stages"])
            for sid in as_list(job.stageIds()):
                # a shuffle stage reused by a later job is counted once
                if sid in seen_stages or sid not in stages:
                    continue
                seen_stages.add(sid)
                st = stages[sid]
                for k in _COUNTERS[1:]:
                    c[k] += st[k]
                if st["input_rows"] or st["input_mb"]:
                    c["scan_stages"].append(st)
            c["scan_jobs"] += len(c["scan_stages"]) > n_scan
        children: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]] = children.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in self.spans:
            wall = s["end"] - s["start"]
            s["wall_s"] = wall
            s["self_s"] = wall - children.get(s["id"], 0.0)
            s["counters"] = by_span[s["id"]]
            run = s["counters"]["executor_run_s"]
            s["slot_idle_share"] = (
                1.0 - run / (s["self_s"] * self.slots) if s["self_s"] > 0 else 0.0
            )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        out = []
        for s in self.spans:
            rec = {k: v for k, v in s.items() if k != "counters"}
            c = dict(s.get("counters", {}))
            c["scan_stages"] = len(c.get("scan_stages", []))
            rec["counters"] = c
            out.append(rec)
        with open(path, "w") as f:
            json.dump({"slots": self.slots, "spans": out}, f, indent=1)


def layer_totals(spans: list[dict], layer: str, slots: int) -> dict:
    """Self time and exclusive counters summed over the spans of one
    layer (a span belongs to ``layer`` when its name is ``layer``)."""
    mine = [s for s in spans if s["name"] == layer]
    tot = {"busy_s": sum(s["self_s"] for s in mine)}
    for k in _COUNTERS:
        tot[k] = sum(s["counters"][k] for s in mine)
    tot["slot_idle_share"] = (
        1.0 - tot["executor_run_s"] / (tot["busy_s"] * slots) if tot["busy_s"] > 0 else 0.0
    )
    return tot


def scan_totals(spans: list[dict], slots: int) -> dict:
    """The sources layer from the stages that read input files. File scans
    are fused into the first stage of the consuming job, so this overlaps
    the span-based layers: wall is the summed wall of those stages."""
    stages = [st for s in spans for st in s["counters"]["scan_stages"]]
    wall = sum(st["wall_s"] for st in stages)
    run = sum(st["executor_run_s"] for st in stages)
    return {
        "jobs": sum(s["counters"]["scan_jobs"] for s in spans),
        "scan_s": wall,
        "rows_in": sum(st["input_rows"] for st in stages),
        "bytes_in": sum(st["input_mb"] for st in stages) * 1e6,
        "tasks": sum(st["tasks"] for st in stages),
        "executor_run_s": run,
        "shuffle_write_mb": sum(st["shuffle_write_mb"] for st in stages),
        "spill_mb": sum(st["spill_mb"] for st in stages),
        "slot_idle_share": 1.0 - run / (wall * slots) if wall > 0 else 0.0,
    }


class RssSampler:
    """Samples the resident memory of a process and all its descendants
    (the JVM and its Python workers) from a background thread. Each
    process counts its proportional set size, so the pages a forked
    Python worker shares with its daemon are counted once."""

    interval_s = 0.05

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.peak_kb = 0
        self.cpu_s = 0.0  # CPU time of the sampling thread itself
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        self.peak_kb = 0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _run(self) -> None:
        while not self._stop.is_set():
            kb = sum(_pss_kb(p) for p in descendants(self.root))
            self.peak_kb = max(self.peak_kb, kb)
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval_s)


def cpu_clock(sampler: RssSampler, jvm_pid: int):
    """A clock reading the CPU seconds used so far by this process and
    every process below it (the JVM and its Python workers), less the
    sampler's own thread and the JVM's JIT compiler threads. Unlike wall
    time it does not count the time a shared host takes the CPUs away
    from the program (steal time). JIT compilation is left out because
    in a JVM a minute old it still takes a third of a fold's CPU time,
    by amounts that differ from op to op by more than the gate's bound."""
    return lambda: tree_cpu_s(os.getpid()) - jit_cpu_s(jvm_pid) - sampler.cpu_s


def tree_cpu_s(root: int) -> float:
    """User and system CPU seconds of ``root`` and its live descendants,
    with the children each of them has already reaped."""
    ticks = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _CLK_TCK


def jit_cpu_s(pid: int) -> float:
    """User and system CPU seconds of the JIT compiler threads of JVM
    ``pid``. Only right while those threads live as long as the JVM
    (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                comm, fields = f.read().split("(", 1)[1].rsplit(")", 1)
        except OSError:
            continue
        if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            ticks += sum(int(x) for x in fields.split()[11:13])  # utime stime
    return ticks / _CLK_TCK


def descendants(root: int) -> list[int]:
    """``root`` and every live descendant pid."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0
