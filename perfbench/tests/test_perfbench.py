"""Tests of the benchmark itself: seeded inputs, metric names against
BENCHMARK.json, and a tiny-input smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
from harness import Span  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
ALL_WORKLOADS = ("capstone_then_queries", "curation")


def _run(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


@pytest.mark.parametrize("make", [
    lambda d, s: gen.capstone_staging(d, s, 500),
    lambda d, s: gen.relational_tables(d, s, 0.0005),
    lambda d, s: gen.curation_corpus(d, s, 40),
])
def test_inputs_repeat_per_seed(tmp_path, make):
    def digest(path):
        h = hashlib.sha256()
        for root, dirs, files in sorted(os.walk(path)):
            for name in sorted(files):
                h.update(name.encode())
                with open(os.path.join(root, name), "rb") as fh:
                    h.update(fh.read())
        return h.hexdigest()

    a, b, c = (str(tmp_path / n) for n in "abc")
    info = make(a, 3)
    assert make(b, 3) == info and info["rows"] > 0
    make(c, 4)
    assert digest(a) == digest(b) != digest(c)


def test_layer_metrics_cover_benchmark_json():
    """Every per-layer name in BENCHMARK.json is produced by the traced
    run's aggregation (run.py adds the session and tracing figures)."""
    import run

    stages = dict.fromkeys(("executor_run_ms", "shuffle_write_bytes", "shuffle_write_records", "spill_bytes", "input_bytes"), 1)
    layers = {m["name"].rsplit(".", 1)[0] for m in SPEC["per_layer"] if m["name"].endswith(".call_s")}
    spans = [Span(layer, "f", 0.1, 0.2, stages=stages, out_rows=1) for layer in layers]
    spans.append(Span("plans.queries", "pricing_summary", 0.1, 0.2, stages=stages))
    names = set(run.layer_metrics([(spans, {"written_bytes": 1, "files": 1})]))
    names |= {"session.start_s", "session.gc_s", "session.jvm_peak_rss_mb", "tracing.overhead_s"}
    assert {m["name"] for m in SPEC["per_layer"]} <= names
    assert {w["name"] for w in SPEC["workloads"]} == set(ALL_WORKLOADS)


def test_tree_cpu_counts_children_live_and_reaped():
    """pass_cpu_s counts the CPU the Spark JVM and its Python workers
    use, so a child's CPU time counts while it runs and after it is
    reaped."""
    from harness import tree_cpu_s

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\nimport sys; sys.stdin.read()"
    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE)
    try:
        deadline = time.monotonic() + 30
        while tree_cpu_s() - before < 0.4 and time.monotonic() < deadline:
            time.sleep(0.05)
        live = tree_cpu_s() - before
    finally:
        child.stdin.close()
        child.wait()
    assert live >= 0.4
    assert tree_cpu_s() - before >= live


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__", "tests"))
    code, out = _run("curation", 0, cwd=str(tmp_path))
    assert code != 0 and not any(line.startswith('{"correct"') for line in out)


@pytest.mark.parametrize("workload,trace", [("capstone_then_queries", 1), ("curation", 0)])
def test_smoke_run_prints_the_declared_metrics(workload, trace):
    code, out = _run(workload, trace)
    assert code == 0, out
    result = json.loads(out[-1])
    info = json.loads(out[-2])["info"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, info["failures"]
    declared = SPEC["end_to_end"] if info["trace"] == 0 else SPEC["per_layer"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
    assert info["user_metrics"]["error_rate"]["value"] == 0
