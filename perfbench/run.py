"""cogger_spark benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload tile_convert --seed 1 --seconds 12 --trace 0

Each run starts Spark at local[<cores available>], generates (or reuses) the
workload's seeded inputs, computes the expected outputs, sets up three times
(session start, input load, one untimed warm-up job; the first start is cold,
the next two restart the session in the running JVM) and then runs the
workload's job back to back for --seconds, checking every job's outputs.

--trace 0 prints the end-to-end metrics. --trace 1 prints the per-layer
metrics: it runs the job untraced and then traced with spans around every
call into a layer and Spark's event log on, and reports each layer's self
time, Spark's stage metrics and the tracing overhead. The last line of
standard output is always one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
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
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent
MIN_JOBS = 3
SETUPS = 3
# outside-tree CPU above this many busy cores during a window flags the run
OTHER_CORES_FLAG = 0.5


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the benchmark's own tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt each timed job's output before its check "
                         "(tests that a bad output counts as failed)")
    return ap.parse_args(argv)


class Run:
    """One benchmark process: inputs, Spark session and measurements."""

    def __init__(self, args, W, P, T, S):
        self.args = args
        self.W, self.P, self.T, self.S = W, P, T, S
        self.pid = os.getpid()
        self.work = ROOT / ".perfbench"
        self.scratch = self.work / f"run-{self.pid}"
        self.spark = None
        self.spark_conf = env_paths(self.scratch)
        self.cores = len(os.sched_getaffinity(0))

    def workload(self, name: str, size: str):
        inputs, manifest = self.S.ensure_inputs(self.work / "cache", name,
                                                self.args.seed, size)
        wl = self.W.WORKLOADS[name](inputs, manifest, self.scratch)
        wl.expect()
        return wl

    def start_spark(self, extra: dict | None = None):
        from cogger_spark.session import get_spark
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", cores=self.cores,
                               extra={**self.spark_conf, **(extra or {})})
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait until no child process is left."""
        import signal

        from pyspark import SparkContext
        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            children = [p for p in self.P.tree(self.pid) if p != self.pid]
            if not children:
                return
            time.sleep(0.2)
        for pid in children:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    @staticmethod
    def corrupt(wl, out) -> None:
        """Drop the first output row, or delete the first output file."""
        if isinstance(out, dict):
            first = next(iter(out))
            out[first] = out[first].iloc[1:]
        else:
            min(Path(wl.scratch).glob(f"{wl.name}_out/*.tif")).unlink()

    def window(self, wl, seconds: float, tr, traced: bool) -> dict:
        """Closed loop: the next job starts when the previous one has been
        checked. Returns job times, per-job tree CPU, failures and the peak
        RSS and outside-tree CPU of the window."""
        P = self.P
        times, cpus, problems = [], [], []
        attempted = failed = 0
        box0, tree0, w0 = P.box_cpu_s(), P.tree_cpu_s(self.pid), time.perf_counter()
        with P.Sampler(self.pid) as sampler:
            while attempted < MIN_JOBS or time.perf_counter() - w0 < seconds:
                wl.reset()
                attempted += 1
                c0, t0 = P.tree_cpu_s(self.pid), time.perf_counter()
                try:
                    if traced:
                        with tr.span("bench.job"):
                            out = wl.job(self.spark, tr, traced=True)
                    else:
                        out = wl.job(self.spark, tr)
                except Exception:  # a failed job is counted, the loop goes on
                    failed += 1
                    problems.append(traceback.format_exc(limit=3))
                    continue
                times.append(time.perf_counter() - t0)
                cpus.append(P.tree_cpu_s(self.pid) - c0)
                if self.args.corrupt:
                    self.corrupt(wl, out)
                bad = self.safe_check(wl, out, attempted)
                if bad:
                    failed += 1
                    problems += bad
        wall = time.perf_counter() - w0
        tree_cpu = P.tree_cpu_s(self.pid) - tree0
        other = max(0.0, P.box_cpu_s() - box0 - tree_cpu) / wall
        return {"times": times, "cpus": cpus, "attempted": attempted,
                "failed": failed, "problems": problems, "out": out if times else None,
                "peak_rss_mb": sampler.peak_rss_mb, "other_cores": other, "wall": wall,
                "peak_worker_rss_mb": sampler.peak_worker_rss_mb}

    @staticmethod
    def safe_check(wl, out, job_no: int, full: bool = False) -> list[str]:
        try:
            return wl.check(out, job_no, full=full)
        except Exception:  # the check itself failing is a failed output
            return [traceback.format_exc(limit=3)]

    # --- untraced: end-to-end metrics ---------------------------------------

    def end_to_end(self) -> dict:
        wl = self.workload(self.args.workload, self.args.size)
        null = self.T.NullTracer()
        setups, problems = [], []
        for k in range(SETUPS):
            if self.spark is not None:
                self.stop()
            wl.reset()
            t0 = time.perf_counter()
            self.start_spark()
            wl.load(self.spark)
            out = wl.job(self.spark, null)
            setups.append(time.perf_counter() - t0)
            problems += self.safe_check(wl, out, -1 - k, full=True)
        log(f"setup_s runs: {[round(s, 3) for s in setups]}")
        win = self.window(wl, self.args.seconds, null, traced=False)
        if not win["times"]:
            raise RuntimeError(f"no job completed: {win['problems'][:1]}")
        out_bytes = wl.out_bytes(win["out"])
        p50 = statistics.median(win["times"])
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "job_p50_s": (p50, "s"),
            "items_per_s": (wl.items / p50, "1/s"),
            "mb_per_s": (wl.mb() / p50, "MB/s"),
            "cpu_s_per_item": (statistics.median(win["cpus"]) / wl.items, "s"),
            "peak_worker_rss_mb": (win["peak_worker_rss_mb"], "MB"),
            "out_bytes_per_in_byte": (out_bytes / wl.in_bytes, "ratio"),
        }
        self.report(wl, win, problems)
        return self.result(win, problems, metrics)

    # --- traced: per-layer metrics ------------------------------------------

    def per_layer(self) -> dict:
        W, T = self.W, self.T
        wl = self.workload(self.args.workload, self.args.size)
        events = self.scratch / "events"
        tr = T.Tracer(f"{wl.name}-s{self.args.seed}-p{self.pid}",
                      on_enter=self._tag_span)
        problems = []
        wl.reset()
        with tr.span("session.get_spark"):
            self.start_spark({**T.EVENT_LOG_CONF, "spark.eventLog.dir": events.as_uri()})
        with tr.span("session.load"):
            wl.load(self.spark)
        with tr.span("session.warmup"):
            out = wl.job(self.spark, T.NullTracer())
        problems += self.safe_check(wl, out, -1, full=True)

        sc = self.spark.sparkContext
        plain = self.window(wl, self.args.seconds, T.NullTracer(), traced=False)
        sc.setLocalProperty("perfbench.phase", "traced")
        first = len(tr.spans)
        traced = self.window(wl, self.args.seconds, tr, traced=True)
        if not (plain["times"] and traced["times"]):
            raise RuntimeError(f"no job completed: {(plain['problems'] + traced['problems'])[:1]}")
        sc.setLocalProperty("perfbench.phase", None)
        own_spans = tr.spans[first:]
        problems += plain["problems"] + traced["problems"]

        # the other workloads' layers: one traced pass over their tiny inputs
        insts = {wl.name: wl}
        for name in W.WORKLOADS:
            if name == wl.name:
                continue
            other = self.workload(name, "tiny")
            insts[name] = other
            other.reset()
            with tr.span("bench.layer_pass", workload=name):
                other.load(self.spark)
                c0 = self.P.tree_cpu_s(self.pid)
                with tr.span("bench.job"):
                    o = other.job(self.spark, tr, traced=True)
                other.job_cpu_s = self.P.tree_cpu_s(self.pid) - c0
            problems += self.safe_check(other, o, 0)
        wl.job_cpu_s = statistics.median(plain["cpus"])

        layer = self.layer_metrics(tr.spans, own_spans)
        layer.update(insts["doc_dedup"].extra_trace(self.spark, tr))
        layer.update(self.kernel_probes(tr, insts))
        self.stop()
        log_events = T.read_event_log(events)
        traced_jobs = {"perfbench.phase": "traced"}
        layer.update(T.spark_metrics(log_events, traced_jobs,
                                     passes=len(traced["times"])))
        # shuffle of the direct (fused, zero-shuffle) route alone
        direct = T.spark_metrics(log_events, {**traced_jobs, "perfbench.span":
                                              "tiling.fused_write"},
                                 passes=len(traced["times"]))
        layer["tiling.fused_write_shuffle_mb"] = direct["spark.shuffle_write_mb"]
        p50 = {k: statistics.median(w["times"]) for k, w in (("plain", plain), ("traced", traced))}
        layer["trace.job_p50_untraced_s"] = p50["plain"]
        layer["trace.job_p50_traced_s"] = p50["traced"]
        layer["trace.overhead_s"] = p50["traced"] - p50["plain"]

        traces = self.work / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tr.write(traces / f"{tr.run_id}.jsonl")
        self.report_layers(tr.spans, own_spans, traced["wall"])
        merged = {"times": plain["times"] + traced["times"],
                  "attempted": plain["attempted"] + traced["attempted"],
                  "failed": plain["failed"] + traced["failed"],
                  "other_cores": max(plain["other_cores"], traced["other_cores"])}
        self.report(wl, merged, problems)
        units = dict(LAYER_METRICS)
        return self.result(merged, problems,
                           {k: (layer[k], units[k]) for k in units})

    def _tag_span(self, name: str) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty("perfbench.span", name or None)

    def layer_metrics(self, spans, own_spans) -> dict:
        """Median span times: the workload's own layers from its traced
        window, the other layers from their one tiny pass."""
        out = {}
        for name, _unit in LAYER_METRICS:
            base, _, suffix = name.rpartition("_")
            if suffix not in ("s", "rows"):
                continue
            pool = own_spans if any(s["name"] == base for s in own_spans) else spans
            hits = [s for s in pool if s["name"] == base]
            if not hits:
                continue
            if suffix == "s":
                out[name] = statistics.median(s["end"] - s["start"] for s in hits)
            else:
                out[name] = float(hits[-1].get("rows", 0))
        return out

    def kernel_probes(self, tr, insts) -> dict:
        """In-process, serial timings of the pure kernels on fixed samples of
        the workloads' inputs (the first files and rows, by name)."""
        import numpy as np
        import pyarrow.parquet as pq
        W = self.W
        out = {}
        rw = insts["tiff_rewrite"]
        with tr.span("codec.probe"):
            out.update(W.codec_probe(sorted(rw.tiff_dir.glob("*.tif"))[:4]))
        tc = insts["tile_convert"]
        rows = pq.read_table(tc.inputs / "images.parquet").slice(0, 4).to_pylist()
        with tr.span("imagecodecs.probe"):
            out.update(W.imagecodecs_probe(rows))
        with tr.span("tiling.kernel_serial"):
            base = tc.kernel_serial_s()
        out["tiling.kernel_serial_s"] = base
        out["tiling.engine_over_kernel"] = tc.job_cpu_s / base
        pts = pq.read_table(insts["spatial_join"].inputs / "points.parquet")
        with tr.span("cells.probe"):
            out.update(W.cells_probe(np.asarray(pts["lon"]), np.asarray(pts["lat"])))
        return out

    # --- output -------------------------------------------------------------

    def report(self, wl, win, problems) -> None:
        flag = " (FLAGGED: other work on the machine)" \
            if win["other_cores"] > OTHER_CORES_FLAG else ""
        print(f"# workload {wl.name} seed {self.args.seed} cores {self.cores} "
              f"items {wl.items} {wl.unit_of_item}s")
        print(f"# jobs {len(win['times'])} attempted {win['attempted']} failed "
              f"{win['failed']} failed_frac {win['failed'] / max(1, win['attempted']):.4f}")
        print(f"# job times s: {' '.join(f'{t:.3f}' for t in win['times'])}")
        if "cpus" in win:
            print(f"# job cpu s: {' '.join(f'{c:.2f}' for c in win['cpus'])}")
        print(f"# outside-tree cpu {win['other_cores']:.3f} cores{flag}")
        if "peak_worker_rss_mb" in win:
            print(f"# peak rss MB: tree {win['peak_rss_mb']:.1f} "
                  f"python workers {win['peak_worker_rss_mb']:.1f}")
        for p in problems[:10]:
            log(f"problem: {p}")

    def report_layers(self, spans, own_spans, wall) -> None:
        own = self.T.layer_self_times(own_spans)
        print(f"# self time by layer over the traced window ({wall:.3f} s wall):")
        for layer, s in sorted(own.items(), key=lambda kv: -kv[1]):
            print(f"#   {layer:12s} {s:10.4f} s")
        print("# self time by layer over the whole traced run:")
        for layer, s in sorted(self.T.layer_self_times(spans).items(), key=lambda kv: -kv[1]):
            print(f"#   {layer:12s} {s:10.4f} s")

    def result(self, win, problems, metrics) -> dict:
        for name, (value, unit) in metrics.items():
            print(f"# {name} = {value} {unit}")
        return {"correct": not problems and win["failed"] == 0,
                "attempted": win["attempted"], "failed": win["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def env_paths(scratch: Path) -> dict:
    """Spark and Python scratch locations inside the run's directory."""
    for d in ("tmp", "spark-local", "warehouse", "events"):
        (scratch / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(scratch / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    os.environ["SPARK_WAREHOUSE"] = str(scratch / "warehouse")
    # every JVM (the launcher too): no /tmp/hsperfdata_<user>, tmpdir inside
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData -Djava.io.tmpdir={scratch / 'tmp'} "
                                       f"-Dderby.system.home={scratch / 'tmp'}")
    return {
            "spark.local.dir": str(scratch / "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            # row-granular input splits: the synthetic pixels compress so
            # well that byte-sized splits would put every image in one task
            "spark.sql.files.maxPartitionBytes": str(1 << 20),
            "spark.sql.files.openCostInBytes": "0"}


LAYER_METRICS = [
    ("session.get_spark_s", "s"), ("session.warmup_s", "s"),
    ("sources.read_tiff_dir_s", "s"), ("sources.read_tiff_dir_rows", "count"),
    ("codec.parse_tiff_ms", "ms"), ("codec.rewrite_ms", "ms"),
    ("codec.rewrite_mb_s", "MB/s"), ("codec.rewrite_ifd_tree_ms", "ms"),
    ("imagecodecs.decode_ms_per_mpx", "ms/Mpx"),
    ("imagecodecs.pyramid_ms_per_mpx", "ms/Mpx"),
    ("imagecodecs.cut_encode_ms_per_mpx", "ms/Mpx"), ("imagecodecs.tiles", "count"),
    ("tiling.route_probe_s", "s"), ("tiling.fused_write_s", "s"),
    ("tiling.rewrite_to_dir_s", "s"), ("tiling.fused_write_shuffle_mb", "MB"),
    ("tiling.engine_over_kernel", "ratio"),
    ("tiling.kernel_serial_s", "s"),
    ("strips.tiles_s", "s"), ("strips.parts_write_s", "s"),
    ("spatial.tile_manifest_s", "s"), ("spatial.tile_manifest_rows", "count"),
    ("spatial.pip_join_s", "s"), ("spatial.pip_join_rows", "count"),
    ("spatial.knn_adaptive_s", "s"), ("spatial.knn_adaptive_rows", "count"),
    ("spatial.zonal_stats_s", "s"), ("spatial.zonal_stats_rows", "count"),
    ("cells.cell_encode_ns_per_pt", "ns"), ("cells.k_ring_ns_per_cell", "ns"),
    ("dedup.minhash_lsh_s", "s"), ("dedup.simhash_s", "s"),
    ("dedup.ngram_jaccard_s", "s"), ("similarity.ann_pq_s", "s"),
    ("dedup.lsh_candidates", "count"), ("dedup.verify_yield", "ratio"),
    ("similarity.pq_recall_at_10", "ratio"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
    ("spark.py_sent_mb", "MB"), ("spark.py_returned_mb", "MB"),
    ("spark.py_run_s", "s"), ("spark.task_skew", "ratio"),
    ("trace.job_p50_untraced_s", "s"), ("trace.job_p50_traced_s", "s"),
    ("trace.overhead_s", "s"),
]


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    try:
        import cogger_spark.session  # noqa: F401  the program under test
    except ImportError as exc:
        log(f"cannot import the program from {ROOT}: {exc}")
        return 2
    import inputs
    import procstat
    import tracing
    import workloads
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
        return 2
    run = Run(args, workloads, procstat, tracing, inputs)
    try:
        result = run.per_layer() if args.trace else run.end_to_end()
    finally:
        run.shutdown()
        shutil.rmtree(run.scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
