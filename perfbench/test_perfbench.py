"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench -q

The smoke runs start Spark on the tiny inputs (about a minute each).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import tracing  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
ALL_WORKLOADS = ("tile_convert", "tiff_rewrite", "spatial_join", "doc_dedup")


def bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def result_of(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(result: dict, spec_metrics: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in spec_metrics}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_smoke_prints_every_end_to_end_metric(workload):
    r = result_of(bench("--workload", workload, "--seed", "3", "--seconds", "1",
                        "--trace", "0", "--size", "tiny"))
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 3
    assert_metrics(r, SPEC["end_to_end"])
    assert all(m["value"] > 0 for m in r["metrics"].values())


def test_traced_smoke_prints_every_per_layer_metric_and_sane_spans():
    r = result_of(bench("--workload", "tiff_rewrite", "--seed", "3", "--seconds", "1",
                        "--trace", "1", "--size", "tiny"))
    assert r["correct"]
    assert_metrics(r, SPEC["per_layer"])
    m = {k: v["value"] for k, v in r["metrics"].items()}
    # only paths cross into Python on the path-read rewrite route
    assert m["spark.py_sent_mb"] < 0.1
    trace = max((ROOT / ".perfbench" / "traces").glob("tiff_rewrite-s3-*.jsonl"),
                key=lambda p: p.stat().st_mtime)
    spans = [json.loads(line) for line in trace.read_text().splitlines()]
    assert_self_times_sane(spans)


def assert_self_times_sane(spans: list[dict]) -> None:
    own = tracing.self_times(spans)
    assert all(v >= 0 for v in own.values())
    wall = max(s["end"] for s in spans) - min(s["start"] for s in spans)
    assert sum(own.values()) <= wall + 1e-9


def test_self_times_of_nested_spans():
    tr = tracing.Tracer("t")
    t0 = time.perf_counter()
    with tr.span("a.outer"):
        time.sleep(0.02)
        with tr.span("b.inner"):
            time.sleep(0.03)
            with tr.span("c.leaf"):
                time.sleep(0.01)
        with tr.span("b.inner"):
            time.sleep(0.01)
    wall = time.perf_counter() - t0
    assert_self_times_sane(tr.spans)
    layers = tracing.layer_self_times(tr.spans)
    assert layers["a"] >= 0.02 and layers["b"] >= 0.04 and layers["c"] >= 0.01
    assert sum(layers.values()) <= wall


def test_corrupted_output_counts_as_failed():
    r = result_of(bench("--workload", "tiff_rewrite", "--seed", "3", "--seconds", "1",
                        "--trace", "0", "--size", "tiny", "--corrupt"))
    assert not r["correct"]
    assert r["failed"] == r["attempted"] >= 3


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", "tile_convert", "--seed", "1", "--seconds", "1",
                 "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_inputs_are_a_function_of_the_seed(tmp_path):
    import inputs

    def files(root, seed):
        d, _ = inputs.ensure_inputs(root, "doc_dedup", seed, "tiny")
        return {p.name: p.read_bytes() for p in d.iterdir()}

    assert files(tmp_path / "a", 5) == files(tmp_path / "b", 5)
    assert files(tmp_path / "a", 5)["documents.parquet"] != \
        files(tmp_path / "a", 6)["documents.parquet"]


def test_spec_lists_the_layer_metrics_the_run_prints():
    import run
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == run.LAYER_METRICS
