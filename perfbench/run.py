"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 1 --trace 0

Run from the root of a checkout; everything the run writes goes under
``.perfbench/`` there. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, measured with tracing off;
``--trace 1`` reports the per-layer metrics and also writes every span
to ``.perfbench/trace-<workload>-<seed>.json``. The line before it is
``{"info": ...}``: input sizes, pinned environment, host contention,
each timed pass's wall time, CPU seconds and host-speed scale, sample
counts and the workload's user-facing figures with units.

A run: generate inputs from the seed (timed apart from set-up); set up
once (start the JVM and the program's Spark session, run one untimed
warm pass); then run passes back to back until ``--seconds`` of pass
time is spent. Each pass's output is checked outside the timed region,
and the host-speed probe (``harness.host_probe_s``) runs before the
first timed pass and after every one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str) -> dict:
    """Fix the settings the program reads from the environment."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = {
        # the package defaults to 32, which oversubscribes a small host
        "SPARK_GRAFT_CPUS": cpus,
        # Python workers import the package, so they need the checkout
        "PYTHONPATH": os.pathsep.join(dict.fromkeys(paths)),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    os.environ.update(env)
    return env


class Sessions:
    """Starts and stops the program's Spark session, one JVM at a time."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self):
        from udacity_data_engineering_capstone_project_spark import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # keep JVM temp files (and no hsperfdata) out of /tmp
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(passes: list) -> dict:
    """Per-layer figures of every layer the traced passes called: each
    pass's spans summed per layer, then the median over the passes."""
    from harness import percentile
    from workloads import ANALYST_QUERIES

    sums = ("call_s", "call_jobs", "action_s", "jobs", "shuffle_write_mb", "spill_mb", "executor_run_s")
    per_pass = []
    for spans, _ in passes:
        acc: dict[str, dict[str, float]] = {}
        for s in spans:
            a = acc.setdefault(s.layer, dict.fromkeys(sums + ("out_rows", "shuffle_records"), 0.0))
            a["call_s"] += s.call_s
            a["action_s"] += s.action_s
            a["call_jobs"] += s.call_jobs
            a["jobs"] += s.jobs
            a["shuffle_write_mb"] += s.stages["shuffle_write_bytes"] / 1e6
            a["spill_mb"] += s.stages["spill_bytes"] / 1e6
            a["executor_run_s"] += s.stages["executor_run_ms"] / 1e3
            a["shuffle_records"] += s.stages["shuffle_write_records"]
            a["out_rows"] += s.out_rows or 0
        per_pass.append(acc)

    out = {}
    for layer in sorted({layer for acc in per_pass for layer in acc}):
        for m in sums:
            out[f"{layer}.{m}"] = _median([acc.get(layer, {}).get(m, 0.0) for acc in per_pass])
    for layer in ("operators.fuzzy", "operators.dedup"):
        ratios = [acc[layer]["out_rows"] / acc[layer]["shuffle_records"]
                  for acc in per_pass if acc.get(layer, {}).get("shuffle_records")]
        out[f"{layer}.pairs_per_candidate"] = _median(ratios)
    out["sources.readers.input_mb"] = _median(
        [sum(s.stages["input_bytes"] for s in spans) / 1e6 for spans, _ in passes])
    out["sources.sinks.written_mb"] = _median([res.get("written_bytes", 0) / 1e6 for _, res in passes])
    out["sources.sinks.files"] = _median([res.get("files", 0) for _, res in passes])
    q_lat: dict[str, list[float]] = {}
    for spans, _ in passes:
        for s in spans:
            if s.layer == "plans.queries":
                q_lat.setdefault(s.name, []).append(s.wall_s)
    all_q = [v for vs in q_lat.values() for v in vs]
    out["plans.queries.p50_s"] = _median(all_q)
    out["plans.queries.p90_s"] = percentile(all_q, 0.9) if all_q else 0.0
    for name in ANALYST_QUERIES:
        out[f"plans.queries.{name}.p50_s"] = _median(q_lat.get(name, []))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args(argv)

    work = os.path.abspath(".perfbench")
    env = pin_environment(work)
    sys.path[:0] = [ROOT, HERE]
    try:
        import harness
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    host = harness.HostSampler()
    wl = workloads.WORKLOADS[args.workload](work, args.seed, tiny=args.tiny)
    t = time.perf_counter()
    inputs = wl.generate()
    gen_s = time.perf_counter() - t

    sessions = Sessions(work)
    attempted = failed = 0
    failures: list[str] = []

    def checked(result):
        nonlocal attempted, failed
        bad = wl.check(result)
        attempted += wl.ops_per_pass()
        failed += len(bad)
        failures.extend(bad)

    try:
        t0 = time.perf_counter()
        # from process start, input generation excluded
        pre_s = _process_age_s() - gen_s
        spark = sessions.start()
        start_s = time.perf_counter() - t0
        result = wl.run_pass(spark, harness.Recorder(spark, False, -1))
        setup_s = pre_s + time.perf_counter() - t0
        spark.catalog.clearCache()
        checked(result)

        gc0 = harness.jvm_gc_s(spark)
        plain, traced, steals = [], [], []
        probe = harness.host_probe_s()
        spent, i = 0.0, 0
        while spent < args.seconds or (args.trace and not (plain and traced)):
            trace_this = bool(args.trace and i % 2)
            rec = harness.Recorder(spark, trace_this, i)
            sampler = harness.HostSampler()
            c0, t0 = harness.tree_cpu_s(), time.perf_counter()
            result = wl.run_pass(spark, rec)
            wall, cpu = time.perf_counter() - t0, harness.tree_cpu_s() - c0
            steals.append(sampler.report()["steal_share"])
            spent += wall
            # the host's speed around this pass: probes before and after
            probe_before, probe = probe, harness.host_probe_s()
            scale = harness.PROBE_REF_S / ((probe_before + probe) / 2)
            rec.harvest()
            spark.catalog.clearCache()
            checked(result)
            p = {"wall_s": wall, "cpu_s": cpu, "scale": scale, "spans": rec.spans, "result": result}
            (traced if trace_this else plain).append(p)
            i += 1
        gc_s = (harness.jvm_gc_s(spark) - gc0) / i
        peak_rss = harness.jvm_peak_rss_mb(spark)
    finally:
        sessions.stop()
        for d in wl.dirs():
            shutil.rmtree(d, ignore_errors=True)

    pass_s = _median([p["wall_s"] for p in plain])
    pass_cpu_s = _median([p["cpu_s"] * p["scale"] for p in plain])
    queries = [s.wall_s for p in plain for s in p["spans"] if s.layer == "plans.queries"]
    user = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": pass_s, "unit": "s", "samples": len(plain)},
        "pass_cpu_s": {"value": pass_cpu_s, "unit": "s", "samples": len(plain)},
        "error_rate": {"value": failed / attempted, "unit": "failed/attempted", "samples": attempted},
    }
    if queries:
        user["query_p50_s"] = {"value": _median(queries), "unit": "s", "samples": len(queries)}
        user["query_p90_s"] = {"value": harness.percentile(queries, 0.9), "unit": "s", "samples": len(queries)}
    if "written_bytes" in plain[0]["result"]:
        user["written_mb"] = {"value": plain[0]["result"]["written_bytes"] / 1e6, "unit": "MB"}
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": dict(inputs, gen_s=gen_s), "env": env,
        "host": dict(host.report(), pass_steal_share=steals),
        "passes": [{k: p[k] for k in ("wall_s", "cpu_s", "scale")} for p in plain],
        "user_metrics": user, "failures": failures[:20],
    }

    if args.trace:
        metrics = layer_metrics([(p["spans"], p["result"]) for p in traced])
        metrics.update({
            "session.start_s": start_s,
            "session.gc_s": gc_s,
            "session.jvm_peak_rss_mb": peak_rss,
            "tracing.overhead_s": _median([p["wall_s"] for p in traced]) - pass_s,
        })
        with open(os.path.join(work, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({
                "info": info,
                "layers": metrics,
                "passes": [{"wall_s": p["wall_s"], "spans": [vars(s) for s in p["spans"]]} for p in traced],
            }, fh, indent=1, default=str)
        declared = spec["per_layer"]
    else:
        metrics = {"setup_s": setup_s, "pass_cpu_s": pass_cpu_s}
        declared = spec["end_to_end"]
    out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]} for m in declared}
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
