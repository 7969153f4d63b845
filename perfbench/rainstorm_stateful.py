"""Workload ``rainstorm_stateful``: the reference's "complex app".

``rainstorm(spark, 'filter_eq 6 "Punched Telespar"', "count_by_column 8",
in, out, num_tasks=nproc)`` over comma-free, traffic_signs-shaped CSV
micro-files (FIXTURES.md section 1), in two phases on one JVM:

- drain: a backlog drained through ``run_to_completion()``, exactly what
  ``cli rainstorm`` does. Throughput is input records/s from the
  ``rainstorm()`` call to the return of ``run_to_completion()``; the
  median of several drains, each on fresh directories, is reported.
- live: ``job.start(available_now=False, processing_time="0 seconds")``
  with an open-loop generator thread writing micro-files at a fixed
  rate well below drain capacity. Each file is written under a dot name
  and renamed into place, so the file source never lists a partial
  file. A file's latency runs from the moment it was due to the end of
  the micro-batch that consumed it. The wholetext source counts one
  input row per file and files become visible in generation order, so
  cumulative ``numInputRows`` maps files to batches.

Correctness, in both phases: each Category's final count (its largest
update row in the sink) equals the generator's exact count.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time
from collections import Counter
from datetime import datetime

from harness import NULL_TRACER, CorrectnessError, Ctx, Outcome, median, pct

NAME = "rainstorm_stateful"
OP1 = 'filter_eq 6 "Punched Telespar"'
OP2 = "count_by_column 8"
TARGET_POST = "Punched Telespar"

POSTS = ["Punched Telespar", "U-Channel", "Wood", "Square Tube", "Round Pipe"]
POST_W = [40, 30, 15, 10, 5]
CATS = ["Warning", "Regulatory", "Guide", "School", "Parking",
        "Construction", "Recreation", "Route"]
CAT_W = [30, 25, 15, 10, 8, 6, 4, 2]
SIGN_TYPES = ["Stop", "Yield", "Streetname - Mast Arm", "Speed Limit", "No Parking"]
MUTCD = ["R1-1", "R1-2", "D3-1", "R2-1", "R7-1"]
TEXTS = ["Mercury Dr", "Green St", "Neil St", "Prospect Ave", "Kirby Ave"]

FULL = dict(drains=4, drain_files=30, drain_rows=2000, warm_files=4,
            rate=12.5, live_rows=1600, live_warm_s=1.5, local1_files=15)
TINY = dict(drains=2, drain_files=3, drain_rows=200, warm_files=2,
            rate=10.0, live_rows=200, live_warm_s=0.5, local1_files=2)


def _sizes(ctx: Ctx) -> dict:
    return TINY if ctx.tiny else FULL


# ------------------------------------------------------------ inputs
def make_file(seed: int, tag: str, k: int, rows: int) -> tuple[str, Counter]:
    """One micro-file's text and its per-Category count of target rows."""
    rng = random.Random(f"{seed}:{tag}:{k}")
    posts = rng.choices(range(len(POSTS)), POST_W, k=rows)
    cats = rng.choices(range(len(CATS)), CAT_W, k=rows)
    base = k * rows
    lines = []
    for i, (p, c) in enumerate(zip(posts, cats)):
        oid = base + i
        lines.append(
            f"{-9822752.0 - (oid % 5003) * 1.37:.4f},{4898000.0 + (oid % 4001) * 0.91:.4f},"
            f"{oid},{SIGN_TYPES[oid % 5]},30 X 30,,{POSTS[p]},,{CATS[c]},,"
            f"{MUTCD[oid % 5]},Champaign,{100000 + oid},,AERIAL,L,{TEXTS[oid % 5]},{oid % 97},"
        )
    target = POSTS.index(TARGET_POST)
    counts = Counter(CATS[c] for p, c in zip(posts, cats) if p == target)
    return "\n".join(lines) + "\n", counts


def write_file(directory: str, k: int, text: str) -> None:
    tmp = os.path.join(directory, f".f{k:06d}.csv.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, os.path.join(directory, f"f{k:06d}.csv"))


def make_backlog(directory: str, seed: int, tag: str, files: int, rows: int) -> Counter:
    os.makedirs(directory, exist_ok=True)
    total: Counter = Counter()
    for k in range(files):
        text, counts = make_file(seed, tag, k, rows)
        write_file(directory, k, text)
        total.update(counts)
    return total


def final_counts(out_dir: str) -> dict[str, int]:
    """Each key's largest update row across the sink's batch dirs."""
    final: dict[str, int] = {}
    if not os.path.isdir(out_dir):
        return final
    for b in sorted(os.listdir(out_dir)):
        if not b.startswith("batch-"):
            continue
        bd = os.path.join(out_dir, b)
        for part in os.listdir(bd):
            if not part.startswith("part-"):
                continue
            with open(os.path.join(bd, part)) as f:
                for line in f:
                    key, _, val = line.rstrip("\n").rpartition(":")
                    final[key] = max(final.get(key, 0), int(val))
    return final


def check_counts(what: str, out_dir: str, expected: Counter) -> None:
    got = final_counts(out_dir)
    want = {k: v for k, v in expected.items() if v}
    if got != want:
        raise CorrectnessError(f"{NAME} {what}: final counts {got} != expected {want}")


def _output_rows(out_dir: str) -> tuple[int, int]:
    dirs = rows = 0
    for b in os.listdir(out_dir):
        if b.startswith("batch-"):
            dirs += 1
            bd = os.path.join(out_dir, b)
            for part in os.listdir(bd):
                if part.startswith("part-"):
                    with open(os.path.join(bd, part)) as f:
                        rows += sum(1 for _ in f)
    return dirs, rows


# ------------------------------------------------------------ progress
class ProgressLog:
    """A StreamingQueryListener's record: started run ids in order and
    every progress report, kept whole (``recentProgress`` keeps 100)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.started: list[str] = []
        self.progress: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with log._lock:
                    log.started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "batchId": p.batchId,
                    "t": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state": [dict(commit=s.commitTimeMs, total=s.numRowsTotal,
                                   updated=s.numRowsUpdated, mem=s.memoryUsedBytes,
                                   instances=s.numStateStoreInstances)
                              for s in p.stateOperators],
                }
                with log._lock:
                    log.progress.setdefault(str(p.runId), []).append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def batches(self, run_id: str) -> list[dict]:
        with self._lock:
            return sorted(self.progress.get(run_id, []), key=lambda r: r["batchId"])

    def wait_for(self, run_id: str, last_batch: int, timeout: float = 20.0) -> list[dict]:
        deadline = time.time() + timeout
        while time.time() < deadline:
            got = self.batches(run_id)
            if got and got[-1]["batchId"] >= last_batch:
                return got
            time.sleep(0.05)
        return self.batches(run_id)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


# ------------------------------------------------------------ workload
def _drain(ctx: Ctx, in_dir: str, out_dir: str, req: str, op1: str = OP1,
           num_tasks: int | None = None, tracer=None) -> float:
    """One ``cli rainstorm``-shaped drain; returns its wall seconds."""
    from stream_processing_spark.plans.rainstorm import rainstorm

    tr = tracer or ctx.tracer
    t0 = time.perf_counter()
    with tr.span("plans.rainstorm", "rainstorm", req):
        job = rainstorm(ctx.spark, op1, OP2, in_dir, out_dir,
                        num_tasks=num_tasks or ctx.nproc)
    with tr.span("streaming.job", "run_to_completion", req):
        job.run_to_completion()
    return time.perf_counter() - t0


class Workload:
    def __init__(self) -> None:
        self.expected: list[Counter] = []

    def prepare(self, ctx: Ctx, rep: int) -> None:
        sz = _sizes(ctx)
        base = str(ctx.work / NAME)
        shutil.rmtree(base, ignore_errors=True)
        self.expected = [
            make_backlog(f"{base}/drain{i}/in", ctx.seed, f"drain{i}",
                         sz["drain_files"], sz["drain_rows"])
            for i in range(sz["drains"])
        ]
        warm = make_backlog(f"{base}/warm/in", ctx.seed, "warm",
                            sz["warm_files"], sz["drain_rows"])
        _drain(ctx, f"{base}/warm/in", f"{base}/warm/out", f"warm{rep}")
        check_counts("warm-up drain", f"{base}/warm/out", warm)

    def measure(self, ctx: Ctx) -> Outcome:
        sz = _sizes(ctx)
        base = str(ctx.work / NAME)
        log = ProgressLog(ctx.spark)
        try:
            return self._measure(ctx, sz, base, log)
        finally:
            log.close()

    def _measure(self, ctx: Ctx, sz: dict, base: str, log: ProgressLog) -> Outcome:
        from stream_processing_spark.plans.rainstorm import rainstorm

        tr = ctx.tracer
        records = sz["drain_files"] * sz["drain_rows"]
        attempted = failed = 0
        rates, drain_s, untraced_s = [], [], []
        ok_drains = []
        t_start = time.perf_counter()
        # ---- drain phase
        for i in range(sz["drains"]):
            req = f"drain{i}"
            op1 = OP1
            if ctx.fault == "raise" and i == 0:
                op1 = "no_such_op 6"  # parse_op raises inside rainstorm()
            attempted += 1
            n_started = len(log.started)
            # traced runs leave every other drain untraced: the two
            # medians differ by the tracing overhead
            untraced = ctx.traced and i % 2 == 1
            try:
                dt = _drain(ctx, f"{base}/drain{i}/in", f"{base}/drain{i}/out", req, op1,
                            tracer=NULL_TRACER if untraced else None)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                print(f"[{NAME}] drain {i} failed: {e!r}"[:300])
                failed += 1
                continue
            rates.append(records / dt)
            (untraced_s if untraced else drain_s).append(dt)
            ok_drains.append((i, log.started[n_started] if len(log.started) > n_started else None))
        drain_elapsed = time.perf_counter() - t_start

        # ---- live phase
        live_in, live_out = f"{base}/live/in", f"{base}/live/out"
        os.makedirs(live_in)
        with tr.span("plans.rainstorm", "rainstorm", "live"):
            job = rainstorm(ctx.spark, OP1, OP2, live_in, live_out, num_tasks=ctx.nproc)
        with tr.span("streaming.job", "start", "live"):
            q = job.start(available_now=False, processing_time="0 seconds")
        rate = sz["rate"]
        live_s = max(ctx.seconds - drain_elapsed, ctx.min_samples / rate + 0.5)
        gen = _Generator(live_in, ctx.seed, rate, sz["live_rows"])
        gen.start()
        time.sleep(max(0.0, gen.t0 + sz["live_warm_s"] + live_s - time.time()))
        gen.stop()
        live_failed = 0
        try:
            q.processAllAvailable()
            events = log.wait_for(str(q.runId), q.lastProgress["batchId"] if q.lastProgress else 0)
        except Exception as e:  # noqa: BLE001 - a terminated query is counted
            print(f"[{NAME}] live query failed: {e!r}"[:300])
            events = log.batches(str(q.runId))
            live_failed = 1
        finally:
            q.stop()

        # ---- map files to batches, off the clock
        window = (gen.t0 + sz["live_warm_s"], gen.t0 + sz["live_warm_s"] + live_s)
        ends, consumed = [], 0
        for ev in events:
            consumed += ev["rows"]
            ends.append((consumed, ev["t"] + ev["ms"].get("triggerExecution", 0) / 1e3))
        lat, j = [], 0
        in_window = 0
        for k, due in enumerate(gen.due):
            while j < len(ends) and ends[j][0] <= k:
                j += 1
            if not window[0] <= due < window[1]:
                continue
            in_window += 1
            if j < len(ends):
                lat.append((ends[j][1] - due) * 1e3)
        attempted += in_window
        failed += in_window - len(lat) if live_failed else 0

        # ---- correctness, off the clock
        checks = []
        for i, _ in ok_drains:
            exp = self.expected[i]
            if ctx.fault == "wrong:drain":
                exp = exp + Counter({CATS[0]: 1})
            check_counts(f"drain {i}", f"{base}/drain{i}/out", exp)
        checks.append(f"drain: {len(ok_drains)} drains match the generator's counts")
        if not live_failed:
            if consumed != len(gen.due):
                raise CorrectnessError(
                    f"{NAME} live: batches consumed {consumed} files, generator wrote {len(gen.due)}")
            exp = gen.counts
            if ctx.fault == "wrong:live":
                exp = exp + Counter({CATS[1]: 1})
            check_counts("live", live_out, exp)
            checks.append(f"live: {len(gen.due)} files, counts match the generator's")

        out = Outcome(
            latency_ms=lat,
            throughput_per_s=median(rates) if rates else float("nan"),
            attempted=attempted,
            failed=failed,
            counts={"drains": len(rates), "live_files": len(lat), "live_batches": len(events)},
            extra={"drain_s_median": median(drain_s), "live_s": live_s,
                   "generator_lag_ms_max": gen.lag_ms_max(),
                   "latest_offset_drift": _drift([e["ms"].get("latestOffset", 0) for e in events])},
            checks=checks,
        )
        if ctx.traced:
            out.layers = self._layers(ctx, log, ok_drains, events, gen, base)
            out.layers["trace.overhead_ms"] = (median(drain_s) - median(untraced_s)) * 1e3
        return out

    # -------------------------------------------------------- traced
    def _layers(self, ctx, log, ok_drains, events, gen, base) -> dict:
        tr = ctx.tracer
        live_run = None
        if log.started:
            live_run = log.started[-1]
        m: dict[str, float] = {}
        m["rainstorm.build_ms"] = median(tr.durations_ms("plans.rainstorm.rainstorm"))
        m["job.start_ms"] = median(tr.durations_ms("streaming.job.start"))
        ms = lambda key: [e["ms"].get(key, 0) for e in events]  # noqa: E731
        m["job.batches"] = len(events)
        m["job.files_per_batch_p50"] = median([e["rows"] for e in events])
        m["job.trigger_ms_p50"] = median(ms("triggerExecution"))
        m["job.trigger_ms_p90"] = pct(ms("triggerExecution"), 0.9)
        m["job.add_batch_ms_p50"] = median(ms("addBatch"))
        m["job.latest_offset_ms_p50"] = median(ms("latestOffset"))
        m["job.query_planning_ms_p50"] = median(ms("queryPlanning"))
        m["job.wal_ms_p50"] = median([a + b for a, b in zip(ms("walCommit"), ms("commitOffsets"))])
        m["job.latest_offset_drift"] = _drift(ms("latestOffset"))
        drain_batches, drain_add = [], []
        for _, run in ok_drains:
            evs = log.batches(run) if run else []
            drain_batches.append(len(evs))
            drain_add += [e["ms"].get("addBatch", 0) for e in evs]
        m["job.drain_batches"] = median(drain_batches) if drain_batches else 0
        m["job.drain_add_batch_ms"] = median(drain_add)
        m["job.backlog_files_max"] = gen.backlog_max(events)
        m["job.generator_lag_ms_max"] = gen.lag_ms_max()
        st = [e["state"][0] for e in events if e["state"]]
        m["state.commit_ms_p50"] = median([s["commit"] for s in st])
        m["state.rows_total"] = st[-1]["total"] if st else 0
        m["state.rows_updated_p50"] = median([s["updated"] for s in st])
        m["state.memory_used_bytes"] = st[-1]["mem"] if st else 0
        m["state.store_instances"] = st[-1]["instances"] if st else 0
        trig = m["job.trigger_ms_p50"]
        m["state.commit_pct_of_trigger"] = 100.0 * m["state.commit_ms_p50"] / trig if trig else 0.0
        sz = _sizes(ctx)
        m["ops.input_rows"] = len(ok_drains) * sz["drain_files"] * sz["drain_rows"]
        dirs = rows = 0
        for i, _ in ok_drains:
            d, r = _output_rows(f"{base}/drain{i}/out")
            dirs, rows = dirs + d, rows + r
        m["ops.output_rows"] = rows
        m["sink.batch_dirs"] = dirs
        # the live batches as spans: phases laid end to end inside each
        # trigger, in the order the micro-batch runs them
        wall0 = time.time() - (time.perf_counter() - tr.t0)
        for ev in events:
            s0 = ev["t"] - wall0
            bid = tr.add("streaming.job", "batch", s0, s0 + ev["ms"].get("triggerExecution", 0) / 1e3,
                         req=f"live-b{ev['batchId']}")
            cur = s0
            for phase, layer in (("latestOffset", "streaming.job"), ("queryPlanning", "streaming.job"),
                                 ("walCommit", "streaming.job"), ("addBatch", "streaming.stateful"),
                                 ("commitOffsets", "streaming.job")):
                d = ev["ms"].get(phase, 0) / 1e3
                tr.add(layer, phase, cur, cur + d, parent=bid, req=f"live-b{ev['batchId']}")
                cur += d
        if ctx.sparkwork is not None and live_run:
            m.update(ctx.sparkwork.per_op([live_run], len(events)))
        return m

    def baseline(self, ctx: Ctx) -> dict:
        """The single-threaded drain on ``local[1]``: informational."""
        from stream_processing_spark.session import get_spark

        sz = _sizes(ctx)
        base = str(ctx.work / NAME / "local1")
        ctx.spark.stop()
        ctx.spark = get_spark(master="local[1]", shuffle_partitions=1,
                              extra_conf=ctx.spark_conf)
        ctx.spark.sparkContext.setLogLevel("ERROR")
        warm = make_backlog(f"{base}/warm/in", ctx.seed, "l1warm", 2, sz["drain_rows"])
        _drain(ctx, f"{base}/warm/in", f"{base}/warm/out", "l1warm", num_tasks=1)
        check_counts("local[1] warm-up", f"{base}/warm/out", warm)
        exp = make_backlog(f"{base}/in", ctx.seed, "local1", sz["local1_files"], sz["drain_rows"])
        dt = _drain(ctx, f"{base}/in", f"{base}/out", "local1", num_tasks=1)
        check_counts("local[1] drain", f"{base}/out", exp)
        return {"rainstorm.local1_records_per_s": sz["local1_files"] * sz["drain_rows"] / dt}


def _drift(xs: list[float]) -> float:
    """Second-half median over first-half median of a per-batch series."""
    if len(xs) < 4:
        return float("nan")
    h = len(xs) // 2
    a = median(xs[:h])
    return median(xs[h:]) / a if a else float("nan")


class _Generator(threading.Thread):
    """Open loop: file k is due at t0 + k / rate, whatever the query does."""

    def __init__(self, directory: str, seed: int, rate: float, rows: int) -> None:
        super().__init__(daemon=True)
        self.directory, self.seed, self.rate, self.rows = directory, seed, rate, rows
        self.t0 = time.time() + 0.2
        self.due: list[float] = []
        self.done: list[float] = []
        self.counts: Counter = Counter()
        self._stop_evt = threading.Event()

    def run(self) -> None:
        k = 0
        while True:
            due = self.t0 + k / self.rate
            if self._stop_evt.wait(max(0.0, due - time.time())):
                return
            text, counts = make_file(self.seed, "live", k, self.rows)
            write_file(self.directory, k, text)
            self.done.append(time.time())
            self.due.append(due)
            self.counts.update(counts)
            k += 1

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()

    def lag_ms_max(self) -> float:
        return max(((d - u) * 1e3 for d, u in zip(self.done, self.due)), default=0.0)

    def backlog_max(self, events: list[dict]) -> int:
        """Files written but not yet consumed, at each batch's start."""
        worst, consumed = 0, 0
        for ev in events:
            written = sum(1 for d in self.done if d <= ev["t"])
            worst = max(worst, written - consumed)
            consumed += ev["rows"]
        return worst
