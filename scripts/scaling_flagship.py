#!/usr/bin/env python
"""Flagship-only scaling probe: run cog_pipeline over the cached 19200-image
bench table at --cores parallelism in THIS process's fresh JVM, measure wall
time AND whole-box busy-CPU seconds (/proc/stat delta) around exactly the
timed window, and print one JSON line.

This is the instrument behind the granted-CPU scaling numbers in
BENCH/BASELINE.md: `local[N]` does not consume N CPUs (the JVM scan/Arrow
threads run concurrently with the Python workers), so the north rule's
N→4N criterion is evidenced as
    efficiency_on_granted = (img_s_hi / img_s_lo) / (busy_hi / busy_lo).

--conf k=v pairs (repeatable) are applied on top of the engine session
defaults, so A/B sweeps (Arrow batch bytes, worker knobs) run the exact
production session shape plus one delta.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

IMAGES = "/tmp/cogger_bench_19200/images.parquet"


def cpu_jiffies() -> tuple[int, int]:
    """(granted_busy, steal) jiffies. Granted busy = user+nice+system+irq+
    softirq — EXCLUDING idle, iowait, and crucially steal: stolen cycles are
    precisely the CPUs the host did NOT grant, so counting them as busy
    would inflate the 'granted hardware' denominator exactly when the VM is
    being throttled. (guest/guest_nice are already folded into user.)"""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    granted = v[0] + v[1] + v[2] + v[5] + v[6]
    return granted, v[7]


def proc_tree_cpu() -> dict:
    """CPU jiffies of THIS process and every live descendant, keyed by pid:
    {pid: (comm, self_jiffies, reaped_children_jiffies)}. self = utime+stime
    (whole process, all threads); reaped = cutime+cstime — the time of
    already-waited dead children, which is how short-lived python workers
    that fork and exit between samples still get counted (their time folds
    into the pyspark.daemon's cutime at reap). Attribution (r4 VERDICT
    what's-wrong #2): delta per bucket = live-at-both-ends deltas + births
    (start=0) + reaped-into-parent deltas, so the JVM-vs-python split is
    exact up to children that die unreaped within the window."""
    me = os.getpid()
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            st = open(f"/proc/{d}/stat").read()
        except OSError:
            continue
        lp = st.rindex(")")
        comm = st[st.index("(") + 1:lp]
        f = st[lp + 2:].split()
        ppid = int(f[1])
        ut, stt, cut, cst = int(f[11]), int(f[12]), int(f[13]), int(f[14])
        procs[int(d)] = (comm, ppid, ut + stt, cut + cst)
    # restrict to self + descendants
    kids: dict[int, list[int]] = {}
    for pid, (_c, ppid, _u, _cu) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    keep, stack = {}, [me]
    while stack:
        p = stack.pop()
        if p in procs:
            c, _pp, u, cu = procs[p]
            keep[p] = (c, u, cu)
            stack.extend(kids.get(p, []))
    return keep


def attribute_delta(before: dict, after: dict, hz: int) -> dict:
    """Bucketed CPU seconds between two proc_tree_cpu samples: 'jvm' (java —
    scan, shuffle, Arrow encode/decode, py4j), 'python' (pyspark daemon +
    workers — the pixel kernels), 'driver' (this process)."""
    me = os.getpid()
    out = {"jvm": 0.0, "python": 0.0, "driver": 0.0}

    def bucket(pid, comm):
        if pid == me:
            return "driver"
        return "jvm" if "java" in comm else "python"

    for pid, (comm, u1, cu1) in after.items():
        u0, cu0 = (before.get(pid) or (comm, 0, 0))[1:]
        out[bucket(pid, comm)] += ((u1 - u0) + (cu1 - cu0)) / hz
    return {k: round(v, 1) for k, v in out.items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--conf", action="append", default=[],
                    help="extra spark conf k=v (repeatable)")
    ap.add_argument("--images", default=IMAGES)
    ap.add_argument("--split-bytes", default="1m")
    args = ap.parse_args()
    extra = dict(kv.split("=", 1) for kv in args.conf)

    from cogger_spark.operators.tiling import cog_pipeline
    from cogger_spark.session import get_spark
    spark = get_spark("scaling-flagship", cores=args.cores,
                      shuffle_partitions=args.cores,
                      extra={"spark.ui.showConsoleProgress": "false", **extra})
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.files.maxPartitionBytes", args.split_bytes)
    spark.conf.set("spark.sql.files.openCostInBytes", "0")

    images = spark.read.parquet(args.images)
    n_images = images.count()
    # warm JVM + python workers
    cog_pipeline(images.limit(8), tile=512).count()

    def jvm_gc_millis() -> int:
        beans = (spark.sparkContext._jvm.java.lang.management
                 .ManagementFactory.getGarbageCollectorMXBeans())
        return sum(beans.get(i).getCollectionTime()
                   for i in range(beans.size()))

    gc0 = jvm_gc_millis()
    tree0, (j0, s0), t0 = proc_tree_cpu(), cpu_jiffies(), time.time()
    agg = (cog_pipeline(images, tile=512)
           .agg({"n_tiles": "sum", "total_bytes": "sum"}).collect()[0])
    wall = time.time() - t0
    (j1, s1), tree1 = cpu_jiffies(), proc_tree_cpu()
    gc_sec = (jvm_gc_millis() - gc0) / 1000.0
    hz = os.sysconf("SC_CLK_TCK")
    cpu_sec, steal_sec = (j1 - j0) / hz, (s1 - s0) / hz
    split = attribute_delta(tree0, tree1, hz)
    attributed = sum(split.values())

    print(json.dumps({
        "cores": args.cores,
        "conf": {**extra, "split_bytes": args.split_bytes},
        "n_images": n_images,
        "n_tiles": int(agg["sum(n_tiles)"]),
        "wall_s": round(wall, 2),
        "img_s": round(n_images / wall, 1),
        "cpu_sec": round(cpu_sec, 1),
        "steal_sec": round(steal_sec, 1),
        "avg_cpus_busy": round(cpu_sec / wall, 2),
        "avg_cpus_stolen": round(steal_sec / wall, 2),
        "img_per_cpu_sec": round(n_images / cpu_sec, 2),
        # per-process attribution (r4 VERDICT #2): where the busy CPUs go
        "jvm_cpu_sec": split["jvm"],
        "python_cpu_sec": split["python"],
        "driver_cpu_sec": split["driver"],
        "other_box_cpu_sec": round(cpu_sec - attributed, 1),
        "jvm_gc_sec": round(gc_sec, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
