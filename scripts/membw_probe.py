"""Measured memory-bandwidth roofline for the scaling attribution.

BENCH/BASELINE.md attributes the 8->32 pair's sub-0.8 raw efficiency to
the single-socket shared memory-bandwidth ceiling via per-busy-thread
arithmetic. This probe upgrades that argument to a MEASURED roofline:

1. STREAM-like triad (a[i] = b[i] + s*c[i]) over arrays far larger than
   LLC, run in P independent processes each hard-pinned to its own core
   (os.sched_setaffinity), P in the same levels the scaling bench uses.
   numpy executes the triad as three vectorized streams (2 loads + 1
   store + write-allocate ~= 32 bytes/element); with a 512 MiB working
   set per process it is memory-bound, not cache-bound.
2. Reports aggregate GB/s per level and the bandwidth-bound efficiency
   ceiling for each N->4N pair: BW(4N) / (4 * BW(N)) — the maximum
   scaling efficiency ANY bandwidth-bound workload can achieve between
   those core counts on this box.

If the pipeline's measured 8->32 efficiency meets or exceeds the triad
ceiling, the pair is closed as machine-bound: the engine extracts at
least as much of the scaling as the memory system physically supplies.

Usage: python scripts/membw_probe.py [levels]   (default 1,2,8,32)
Writes BENCH/membw_roofline.json and prints one JSON line.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

N_ELEMS = 32 * 1024 * 1024  # 256 MiB per array, 3 arrays = 768 MiB/proc
BYTES_PER_ELEM = 32  # load b + load c + store a + write-allocate a
SECONDS = 3.0
TRIALS = 6  # host co-tenancy swings guest bandwidth 5-10x between
# short windows (measured); each level takes max over TRIALS samples —
# the machine's best-case supply, matching the scaling bench's
# best-of-accepted convention. All samples are archived.


def _worker(core: int, out_q: mp.Queue) -> None:
    os.sched_setaffinity(0, {core})
    import numpy as np

    b = np.ones(N_ELEMS)
    c = np.full(N_ELEMS, 2.0)
    a = np.zeros(N_ELEMS)
    # warm-up: touch every page
    np.add(b, c, out=a)
    iters = 0
    t0 = time.monotonic()
    while time.monotonic() - t0 < SECONDS:
        # triad: a = b + 0.5*c, fully in-place (no allocation traffic)
        np.multiply(c, 0.5, out=a)
        np.add(a, b, out=a)
        iters += 1
    dt = time.monotonic() - t0
    # two passes per iteration (multiply: load c+store a+WA; add:
    # load a+load b+store a+WA) ~= 56 B/elem/iter; report conservatively
    # with the canonical triad convention scaled to the two-op form
    bytes_moved = iters * N_ELEMS * 56
    out_q.put((core, bytes_moved / dt / 1e9))


def measure(p: int) -> float:
    q: mp.Queue = mp.Queue()
    procs = [mp.Process(target=_worker, args=(i, q)) for i in range(p)]
    for pr in procs:
        pr.start()
    vals = [q.get() for _ in procs]
    for pr in procs:
        pr.join()
    return round(sum(v for _, v in vals), 2)


def main() -> None:
    levels = [
        int(x)
        for x in (sys.argv[1] if len(sys.argv) > 1 else "1,2,8,32").split(",")
    ]
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    samples: dict[int, list[float]] = {p: [] for p in levels}
    # interleave levels across trials so a host-side bandwidth dip hits
    # every level equally instead of biasing whichever level ran then
    for t in range(TRIALS):
        for p in levels:
            samples[p].append(measure(p))
        print(
            f"# trial {t + 1}: "
            + ", ".join(f"{p}c={samples[p][-1]}" for p in levels),
            file=sys.stderr,
        )
    bw = {p: max(v) for p, v in samples.items()}
    for p in levels:
        print(f"# {p} cores: best {bw[p]} GB/s of {samples[p]}",
              file=sys.stderr)
    pairs = {}
    for n in levels:
        if n * 4 in bw:
            pairs[f"{n}->{n * 4}"] = round(bw[n * 4] / (4 * bw[n]), 3)
    out = {
        "triad_gb_per_sec": bw,
        "triad_samples_gb_per_sec": samples,
        "bandwidth_bound_pair_ceiling": pairs,
        "elems_per_array": N_ELEMS,
        "seconds_per_trial": SECONDS,
        "trials": TRIALS,
        "loadavg_at_start": load,
        "measured_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
    print(json.dumps(out))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bench = os.path.join(root, "BENCH")
    os.makedirs(bench, exist_ok=True)
    with open(os.path.join(bench, "membw_roofline.json"), "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
