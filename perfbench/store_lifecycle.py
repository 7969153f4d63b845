"""Workload ``store_lifecycle``: HyDFS's create/append/merge/get surface.

A closed loop with one client over a pool of datasets created during
set-up, in the shape of the reference's cache test. The client runs a
fixed 20-operation cycle, as many whole cycles as fit in ``--seconds``
at a cycle's nominal 4 s (2 cycles for 10 s):

- 16 reads, the large majority: ``get_lines`` on a Zipf(1.5)-chosen
  dataset
- 3 writes: two single-writer ``append`` calls (10% of the cycle), and
  every 3rd write a ``multiappend`` with nproc concurrent writers
- one ``ls``
- and ``merge`` on any dataset that reaches 5 parts.

The seed picks the datasets and the payloads; every run does the same
operations, however fast the host is: the read path is still getting
faster during the window, so a window that ended at a deadline would
take more of the fast reads on a fast host. Reads and writes are timed
as separate distributions, so a change that speeds one and slows the
other shows up. The end-to-end
latency is the read (``get_lines``); the median ``append`` is reported
beside it. Throughput is operations over the time spent inside them,
so the checks and bookkeeping between operations are off the clock.

Correctness: every ``get_lines`` result equals the benchmark's model of
the dataset in (writer, wseq, idx) order, before and after ``merge``
(each merge is followed by an untimed read that is checked).
"""

from __future__ import annotations

import contextlib
import random
import shutil
import time
from itertools import accumulate

from harness import CorrectnessError, Ctx, Outcome, median, pct

NAME = "store_lifecycle"
ZIPF_S = 1.5
CYCLE_S = 4.0  # a FULL cycle's nominal length on a 4-core VM

# a cycle's positions (0-based) of the writes and the ls; every other
# position is a get_lines
FULL = dict(pool=5, init_lines=300, append_lines=100, multi_lines=100,
            cycle=20, appends=(4, 9), multi=14, ls=17, merge_parts=5,
            warm_rounds=2)
TINY = dict(pool=3, init_lines=20, append_lines=5, multi_lines=5,
            cycle=6, appends=(1,), multi=3, ls=4, merge_parts=3,
            warm_rounds=1)


def _sizes(ctx: Ctx) -> dict:
    return TINY if ctx.tiny else FULL


def _cycle(sz: dict) -> list[str]:
    kinds = ["get_lines"] * sz["cycle"]
    for pos in sz["appends"]:
        kinds[pos] = "append"
    kinds[sz["multi"]] = "multiappend"
    kinds[sz["ls"]] = "ls"
    return kinds


class Model:
    """What each dataset must read back as: per writer, its appends in
    wseq order; writers in name order."""

    def __init__(self) -> None:
        self.appends: dict[str, dict[str, list[list[str]]]] = {}
        self.parts: dict[str, int] = {}
        self.version: dict[str, int] = {}

    def add(self, name: str, writer: str, lines: list[str]) -> None:
        self.appends.setdefault(name, {}).setdefault(writer, []).append(lines)
        self.parts[name] = self.parts.get(name, 0) + 1
        self.version[name] = self.version.get(name, 0) + 1

    def merged(self, name: str) -> None:
        self.parts[name] = 1
        self.version[name] += 1

    def lines(self, name: str) -> list[str]:
        out: list[str] = []
        for w in sorted(self.appends[name]):
            for chunk in self.appends[name][w]:
                out.extend(chunk)
        return out


def _payload(name: str, writer: str, n: int, tag: str) -> list[str]:
    return [f"{name} {writer} {tag} line {i}" for i in range(n)]


class Workload:
    def __init__(self) -> None:
        self.store = None
        self.model = Model()
        self.names: list[str] = []
        # per dataset, the version the store last served it at
        self.last_read: dict[str, int] = {}
        self.busy_s = 0.0  # time spent inside timed operations

    def prepare(self, ctx: Ctx, rep: int) -> None:
        from stream_processing_spark.store import Store

        sz = _sizes(ctx)
        root = ctx.work / NAME
        shutil.rmtree(root, ignore_errors=True)
        self.store = Store(ctx.spark, str(root))
        self.model = Model()
        self.last_read = {}
        self.names = [f"ds{i:02d}" for i in range(sz["pool"])]
        tr = ctx.tracer
        for name in self.names:
            lines = _payload(name, "w00", sz["init_lines"], "create")
            with tr.span("store", "create", f"setup-{name}"):
                self.store.create(name, lines, writer="w00")
            self.model.add(name, "w00", lines)
        # warm the merge, ls and read paths off the clock (create already
        # ran append's): the JVM's read path keeps getting faster over
        # its first few dozen reads
        last = self.names[-1]
        self.store.merge(last)
        self.model.merged(last)
        self.store.ls(last)
        for _ in range(sz["warm_rounds"]):
            for name in self.names:
                self._verify(ctx, name)

    def _verify(self, ctx: Ctx, name: str, got: list[str] | None = None) -> None:
        if got is None:
            got = self.store.get_lines(name)
            self.last_read[name] = self.model.version[name]
        want = self.model.lines(name)
        if ctx.fault == "wrong:lines":
            want = want + ["a line the store never saw"]
        if got != want:
            raise CorrectnessError(
                f"{NAME} {name}: get_lines returned {len(got)} lines that differ from "
                f"the model's {len(want)} (first difference at "
                f"{next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))})")

    def measure(self, ctx: Ctx) -> Outcome:
        sz = _sizes(ctx)
        st, model, tr = self.store, self.model, ctx.tracer
        rng = random.Random(f"{ctx.seed}:ops")
        cum = list(accumulate(1.0 / (k ** ZIPF_S) for k in range(1, len(self.names) + 1)))
        times: dict[str, list[float]] = {k: [] for k in
                                         ("get_lines", "append", "multiappend", "merge", "ls")}
        untraced_reads: list[float] = []
        same_version, first_read = [], []
        groups: list[str] = []
        merge_parts: list[tuple[int, int, int]] = []
        writers = [f"m{w:02d}" for w in range(ctx.nproc)]
        cycle = _cycle(sz)
        attempted = failed = 0
        fault_pending = ctx.fault == "raise"
        self.busy_s = 0.0
        cycles = max(1, int(ctx.seconds // CYCLE_S))
        i = 0
        for _ in range(cycles):
            for kind in cycle:
                name = self.names[rng.choices(range(len(self.names)), cum_weights=cum)[0]]
                req = f"op{i}"
                i += 1
                if kind == "multiappend":
                    payloads = {w: _payload(name, w, sz["multi_lines"], req) for w in writers}
                    call = lambda: st.multiappend(name, payloads)  # noqa: E731
                elif kind == "append":
                    lines = _payload(name, "w00", sz["append_lines"], req)
                    call = lambda: st.append(name, lines, writer="w00")  # noqa: E731
                elif kind == "ls":
                    call = lambda: st.ls(name)  # noqa: E731
                else:
                    target = name
                    if fault_pending:
                        target = "no-such-dataset"  # the store raises DatasetNotFoundError
                        fault_pending = False
                    call = lambda: st.get_lines(target)  # noqa: E731
                traced = ctx.traced and i % 2 == 0
                attempted += 1
                try:
                    dt, res = self._timed(ctx, kind, call, req, traced)
                except Exception as e:  # noqa: BLE001 - a failed operation is counted
                    print(f"[{NAME}] {kind} {req} failed: {e!r}"[:300])
                    failed += 1
                    continue
                if traced:
                    groups.append(f"perfbench-{req}")
                # ---- bookkeeping and checks, off the clock
                if kind == "get_lines":
                    self._verify(ctx, name, res)
                    if ctx.traced and not traced:
                        untraced_reads.append(dt)
                    else:
                        times[kind].append(dt)
                        (same_version if self.last_read.get(name) == model.version[name]
                         else first_read).append(dt)
                    self.last_read[name] = model.version[name]
                    continue
                times[kind].append(dt)
                if kind == "append":
                    model.add(name, "w00", lines)
                elif kind == "multiappend":
                    for w in writers:
                        model.add(name, w, payloads[w])
                if kind != "ls" and model.parts[name] >= sz["merge_parts"]:
                    before = len(st.ls(name)["parts"])
                    mreq = f"op{i}-merge"
                    attempted += 1
                    try:
                        mdt, _ = self._timed(ctx, "merge", lambda: st.merge(name), mreq, traced)
                    except Exception as e:  # noqa: BLE001
                        print(f"[{NAME}] merge {mreq} failed: {e!r}"[:300])
                        failed += 1
                        continue
                    if traced:
                        groups.append(f"perfbench-{mreq}")
                    times["merge"].append(mdt)
                    model.merged(name)
                    info = st.ls(name)
                    merge_parts.append((before, len(info["parts"]), info["bytes"]))
                    self._verify(ctx, name)
        done = attempted - failed
        reads = times["get_lines"]
        out = Outcome(
            latency_ms=reads,
            throughput_per_s=done / self.busy_s,
            attempted=attempted,
            failed=failed,
            counts={"cycles": cycles, **{k: len(v) for k, v in times.items()}},
            extra={"write_p50_ms": median(times["append"])},
            checks=[f"lines: {len(reads) + len(untraced_reads) + len(merge_parts)} reads match "
                    f"the model, {len(merge_parts)} of them right after a merge"],
        )
        if ctx.traced:
            fr, sv = median(first_read), median(same_version)
            out.layers = {
                "store.get_lines_ms_p50": median(reads),
                "store.get_lines_ms_p80": pct(reads, 0.8),
                "store.get_lines_same_version_ms_p50": sv,
                # 0 when a run had no read of one of the two kinds
                "store.same_version_read_ratio": sv / fr if sv == sv and fr == fr else 0.0,
                "store.ls_ms_p50": median(times["ls"]),
                "store.append_ms_p50": median(times["append"]),
                "store.create_ms_p50": median(tr.durations_ms("store.create")),
                "store.multiappend_ms_p50": median(times["multiappend"]),
                "store.merge_ms_p50": median(times["merge"]),
                "store.merges": len(merge_parts),
                "store.parts_before_merge": median([b for b, _, _ in merge_parts]) if merge_parts else 0,
                "store.parts_after_merge": median([a for _, a, _ in merge_parts]) if merge_parts else 0,
                "store.bytes_after_merge": median([s for _, _, s in merge_parts]) if merge_parts else 0,
                "trace.overhead_ms": median(reads) - median(untraced_reads),
                **ctx.sparkwork.per_op(groups, len(groups)),
            }
        return out

    def _timed(self, ctx: Ctx, kind: str, call, req: str, traced: bool):
        """Run one operation; its time, failed or not, adds to busy_s."""
        group = ctx.sparkwork.group(req) if traced else contextlib.nullcontext()
        span = ctx.tracer.span("store", kind, req) if traced else contextlib.nullcontext()
        with group:
            t0 = time.perf_counter()
            try:
                with span:
                    res = call()
            finally:
                dt = time.perf_counter() - t0
                self.busy_s += dt
        return dt * 1e3, res
