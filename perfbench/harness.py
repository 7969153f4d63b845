"""Measurement plumbing shared by the three workloads.

Nothing here imports pyspark or the program under test, so the harness
can be imported before the environment the session needs is set.

- ``median`` and ``pct``: the statistics the metrics report.
- ``Tracer`` / ``NULL_TRACER``: spans recorded from outside the program,
  around each call into one of its layers. Spans are kept in memory and
  written out once, when the run ends.
- ``SparkWork``: jobs, stages and tasks per request, read from
  ``SparkContext.statusTracker()`` under one job group per request.
- ``Ctx`` / ``Outcome``: what a workload is given and what it returns.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path


class CorrectnessError(Exception):
    """The program's output differs from the benchmark's expectation."""


# ---------------------------------------------------------------- stats
def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def pct(xs, q: float) -> float:
    """Percentile by linear interpolation between order statistics."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (k - lo))


# -------------------------------------------------------------- tracing
class Tracer:
    """Spans with name, start, end, parent span and request id.

    A span's ``layer`` is the program module it times (``store``,
    ``sources.grep``...). Self time is the span's duration minus the part
    of it that its child spans cover.
    """

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, layer: str, op: str, req: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        start = time.perf_counter() - self.t0
        with self._lock:
            sid = len(self.spans)
            self.spans.append(None)  # reserve the id
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            end = time.perf_counter() - self.t0
            self.spans[sid] = {
                "id": sid,
                "name": f"{layer}.{op}",
                "layer": layer,
                "start": start,
                "end": end,
                "parent": parent,
                "req": req,
            }

    def add(self, layer: str, op: str, start: float, end: float,
            parent: int | None = None, req: str | None = None) -> int:
        """Record a span whose interval was measured elsewhere (the
        phases of a streaming micro-batch, from its progress report)."""
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "name": f"{layer}.{op}", "layer": layer,
                "start": start, "end": end, "parent": parent, "req": req,
            })
        return sid

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans
                if s and s["name"] == name]

    def self_times_s(self) -> dict[str, float]:
        """Per layer: total span time not covered by child spans."""
        done = [s for s in self.spans if s]
        children: dict[int, list[tuple[float, float]]] = {}
        for s in done:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in done:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            own = (s["end"] - s["start"]) - covered
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out


class _NullTracer:
    """Tracing off: a span is a null context."""

    spans: list = []

    def span(self, layer: str, op: str, req: str | None = None):
        return contextlib.nullcontext()

    def add(self, *args, **kwargs) -> None:
        return None


NULL_TRACER = _NullTracer()


class SparkWork:
    """Jobs, stages and tasks per request, from the status tracker.

    Each traced request runs under its own job group; the groups are
    resolved once the timed region is over so the py4j round trips stay
    off the clock. A streaming query already runs its batches under a
    job group named after its run id, which ``count`` accepts as well.
    """

    def __init__(self, sc) -> None:
        self.sc = sc

    @contextlib.contextmanager
    def group(self, req: str):
        gid = f"perfbench-{req}"
        self.sc.setJobGroup(gid, req)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def count(self, groups: list[str]) -> dict[str, int]:
        """Jobs, stages that ran tasks, and completed tasks over groups."""
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def per_op(self, groups: list[str], ops: int) -> dict[str, float]:
        c = self.count(groups)
        n = max(ops, 1)
        return {
            "spark.jobs_per_op": c["jobs"] / n,
            "spark.stages_per_op": c["stages"] / n,
            "spark.tasks_per_op": c["tasks"] / n,
        }


# --------------------------------------------------------------- memory
def _children(pid: int) -> list[int]:
    out = []
    for t in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{t}/children") as f:
                out.extend(int(k) for k in f.read().split())
        except OSError:
            continue
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of this Python process plus its JVM child, each
    process's high-water mark as /proc reports it. The JVM's own
    children (Python workers) are left out: how many it forks depends on
    task timing, not on the program's memory use."""
    me = os.getpid()
    return sum(_vm_hwm_kb(p) for p in [me, *_children(me)]) / 1024.0


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------- contexts
@dataclass
class Ctx:
    """What a workload is given."""

    spark: object
    seed: int
    seconds: float
    work: Path
    nproc: int
    traced: bool = False
    tracer: object = NULL_TRACER
    sparkwork: SparkWork | None = None
    # self-test hooks: "wrong:<check>" plants a wrong expectation for the
    # named check; "raise" makes one operation raise inside the program
    fault: str | None = None
    tiny: bool = False
    # the open-loop live phase runs until this many files were due
    min_samples: int = 100
    spark_conf: dict = field(default_factory=dict)


@dataclass
class Outcome:
    """What a workload returns from its timed region."""

    latency_ms: list[float]
    throughput_per_s: float
    attempted: int
    failed: int
    counts: dict[str, int] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)  # printed, not gated
    layers: dict[str, float] = field(default_factory=dict)  # traced only
    checks: list[str] = field(default_factory=list)
