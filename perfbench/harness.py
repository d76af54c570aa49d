"""Timing, tracing and host accounting shared by the workloads.

The benchmark times calls into the program's public functions from the
outside. `Recorder.call` runs one call, then the barrier or aggregate the
benchmark needs on its output, and records both durations. In a traced
pass every call and every barrier runs under its own Spark job group;
`Recorder.harvest` then reads the jobs of each group from
``sc.statusTracker()`` and their stage metrics from the JVM status store
(``sc._jsc.sc().statusStore()``, which works with the UI disabled).
Untraced passes set no job group and read nothing.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

#: Stage-metric accessors on the JVM ``StageData``, by the name used here.
_STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "spill_bytes": "diskBytesSpilled",
    "input_bytes": "inputBytes",
}


@dataclass
class Span:
    """One call into the program and the benchmark's action on its output."""

    layer: str
    name: str
    call_s: float
    action_s: float
    groups: tuple[str, str] | None = None
    call_jobs: int = 0
    jobs: int = 0
    stages: dict = field(default_factory=dict)
    out_rows: int | None = None

    @property
    def wall_s(self) -> float:
        return self.call_s + self.action_s


class Recorder:
    """Runs and times the calls of one pass; ``traced`` tags their jobs."""

    def __init__(self, spark, traced: bool, pass_id: int):
        self.spark, self.traced, self.pass_id = spark, traced, pass_id
        self.spans: list[Span] = []

    def _group(self, tag: str | None) -> None:
        sc = self.spark.sparkContext
        if tag is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(tag, tag)

    def call(self, layer: str, name: str, thunk, action=None):
        """Run ``thunk()`` (the public call) then ``action(out)``.

        Returns ``(out, action_result)``; ``action_result`` is None
        without an action.
        """
        groups = None
        if self.traced:
            i = len(self.spans)
            groups = (f"pb{self.pass_id}.{i}.call", f"pb{self.pass_id}.{i}.action")
            self._group(groups[0])
        try:
            t0 = time.perf_counter()
            out = thunk()
            t1 = time.perf_counter()
            if self.traced:
                self._group(groups[1])
            res = action(out) if action is not None else None
            t2 = time.perf_counter()
        finally:
            if self.traced:
                self._group(None)
        self.spans.append(Span(layer, name, t1 - t0, t2 - t1, groups))
        return out, res

    def harvest(self) -> None:
        """Attach job counts and stage metrics to every traced span."""
        if not self.traced:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        for span in self.spans:
            stage_ids: set[int] = set()
            for k, group in enumerate(span.groups):
                job_ids = list(tracker.getJobIdsForGroup(group))
                if k == 0:
                    span.call_jobs = len(job_ids)
                span.jobs += len(job_ids)
                for jid in job_ids:
                    info = tracker.getJobInfo(jid)
                    if info is not None:
                        stage_ids.update(int(s) for s in info.stageIds)
            totals = dict.fromkeys(_STAGE_FIELDS, 0)
            for sid in stage_ids:
                data = store.lastStageAttempt(sid)
                for key, getter in _STAGE_FIELDS.items():
                    totals[key] += int(getattr(data, getter)())
            span.stages = totals


def jvm_gc_s(spark) -> float:
    """Cumulative JVM garbage-collection time, in seconds."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set size (VmHWM) of the Spark JVM, in MB."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root`` (this
    process by default) and all its descendants, the reaped ones
    included: the driver, the Spark JVM and its Python workers.

    The kernel leaves steal time (ticks other tenants took from this
    guest's CPUs) out of these counts, so they do not grow with the
    host's load the way wall time does.
    """
    root = os.getpid() if root is None else root
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        # fields after the name: state ppid ... utime(11) stime cutime cstime(14)
        procs[int(name)] = (int(rest[1]), sum(int(v) for v in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


#: CPU seconds of one ``host_probe_s`` repetition on an idle 4-vCPU Xeon
#: guest; ``pass_cpu_s`` is scaled to this speed.
PROBE_REF_S = 0.044


def host_probe_s(reps: int = 7) -> float:
    """Median CPU seconds of a fixed task that does not touch the
    program: interpreter work plus writing a fresh 64 MB buffer.

    CPU time leaves out the time this thread waits for a CPU, so the
    probe reads how much work a CPU second does on the shared host at
    the moment (other tenants on the same cores or memory slow it).
    """
    times = []
    for _ in range(reps):
        t = time.thread_time()
        acc = 0
        for i in range(200_000):
            acc ^= len(str(i * 7919))
        buf = bytearray(64 << 20)
        for k in range(0, len(buf), 4096):
            buf[k] = k & 255
        times.append(time.thread_time() - t)
    return sorted(times)[reps // 2]


class HostSampler:
    """Load average and CPU-steal share over an interval, from /proc."""

    def __init__(self):
        self.t0 = self._ticks()

    @staticmethod
    def _ticks() -> list[int]:
        with open("/proc/stat") as fh:
            return [int(v) for v in fh.readline().split()[1:]]

    def report(self) -> dict:
        t1 = self._ticks()
        delta = [b - a for a, b in zip(self.t0, t1)]
        total = sum(delta[:8]) or 1  # user..steal; guest is inside user
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "loadavg": list(os.getloadavg()),
            "steal_share": round(steal / total, 4),
            "cpus": len(os.sched_getaffinity(0)),
        }


def percentile(values: list[float], q: float) -> float:
    """The ``q``-quantile (0 <= q <= 1), interpolating between ranks."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tree_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's ``.crc`` and
    ``_SUCCESS`` markers are not counted as files."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            if not n.startswith((".", "_")):
                files += 1
    return size, files
