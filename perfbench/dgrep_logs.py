"""Workload ``dgrep_logs``: LogQuerier's distributed grep with counts.

A closed loop with one client. Every request is
``dgrep_count(spark, pat, "<dir>/machine.*.log").collect()``, the
reference client's ``-c`` per-source counts, over four equal Common Log
Format files of about 15 MB each (FIXTURES.md section 3), the size at
which the scan is about half of a request rather than lost in Spark's
fixed cost per query. The pattern cycles through the
reference's four classes: a frequent IP (~60% of lines), a medium one
(~30%), a rare one (~10%) and the regex ``/product/\\d+`` (~35%). The
answer is one row per file, so a request costs a scan plus a regex, not
moving matches to the client. The loop ends at a whole pattern cycle, so
every run asks each pattern equally often.

Each file is a block of generated lines written 20 times over: the scan
and the regex see every line, and generating the input stays cheap.

Correctness: every response's per-file counts equal the counts the
generator planted, found with Python's ``re`` on the same lines.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import time

from harness import CorrectnessError, Ctx, Outcome, median

NAME = "dgrep_logs"
PATTERNS = ["192.168.1.100", "192.168.1.150", "10.0.0.50", r"/product/\d+"]
IPS = ["192.168.1.100", "192.168.1.150", "10.0.0.50"]
IP_W = [60, 30, 10]
PAGES = ["/home", "/about", "/contact", "/login", "/logout"]
METHODS = ["GET", "POST", "PUT", "DELETE"]
STATUS = [200, 301, 404, 500]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun"]

FULL = dict(files=4, block=10000, repeat=20, warm_requests=2)
TINY = dict(files=4, block=300, repeat=2, warm_requests=4)


def _sizes(ctx: Ctx) -> dict:
    return TINY if ctx.tiny else FULL


def make_log(path: str, seed: int, m: int, lines: int, repeat: int) -> dict[str, int]:
    """Write machine m's log, a block of ``lines`` lines ``repeat`` times
    over; return each pattern's matching-line count."""
    rng = random.Random(f"{seed}:log:{m}")
    ips = rng.choices(IPS, IP_W, k=lines)
    out = []
    for i, ip in enumerate(ips):
        url = f"/product/{rng.randint(1, 101)}" if rng.random() < 0.35 else rng.choice(PAGES)
        out.append(
            f'{ip} - - [{1 + i % 28:02d}/{MONTHS[i % 6]}/2024:{i % 24:02d}:{i % 60:02d}:{(i * 7) % 60:02d} ] '
            f'"{rng.choice(METHODS)} {url} HTTP/1.1" {rng.choice(STATUS)} {rng.randint(500, 5000)}'
        )
    with open(path, "w") as f:
        f.write(("\n".join(out) + "\n") * repeat)
    return {p: repeat * sum(1 for ln in out if re.search(p, ln)) for p in PATTERNS}


class Workload:
    def __init__(self) -> None:
        self.expected: dict[str, dict[str, int]] = {}
        self.glob = ""
        self.bytes = 0

    def prepare(self, ctx: Ctx, rep: int) -> None:
        sz = _sizes(ctx)
        d = str(ctx.work / NAME)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        self.expected = {p: {} for p in PATTERNS}
        for m in range(sz["files"]):
            fname = f"machine.{m}.log"
            for p, n in make_log(os.path.join(d, fname), ctx.seed, m, sz["block"],
                                 sz["repeat"]).items():
                self.expected[p][fname] = n
        self.glob = os.path.join(d, "machine.*.log")
        self.bytes = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
        for i in range(sz["warm_requests"]):
            pat = PATTERNS[i % len(PATTERNS)]
            self._check(pat, self._request(ctx, pat, f"warm{rep}-{i}", traced=False)[2], None)

    def _request(self, ctx: Ctx, pat: str, req: str, traced: bool):
        from stream_processing_spark.sources.grep import dgrep_count

        tr = ctx.tracer if traced else None
        t0 = time.perf_counter()
        if tr is None:
            rows = dgrep_count(ctx.spark, pat, self.glob).collect()
            t2 = time.perf_counter()
            return t2 - t0, None, rows
        with ctx.sparkwork.group(req):
            with tr.span("sources.grep", "dgrep_count", req):
                df = dgrep_count(ctx.spark, pat, self.glob)
            t1 = time.perf_counter()
            with tr.span("sources.grep", "collect", req):
                rows = df.collect()
        t2 = time.perf_counter()
        return t2 - t0, (t1 - t0, t2 - t1), rows

    def _check(self, pat: str, rows, fault: str | None) -> None:
        got = {r["source_file"]: r["match_count"] for r in rows}
        want = dict(self.expected[pat])
        if fault == "wrong:counts":
            first = sorted(want)[0]
            want[first] += 1
        if got != want:
            raise CorrectnessError(f"{NAME} {pat!r}: per-file counts {got} != planted {want}")

    def measure(self, ctx: Ctx) -> Outcome:
        lat, untraced_lat, plan_ms, exec_ms, groups = [], [], [], [], []
        attempted = failed = 0
        t_start = time.perf_counter()
        deadline = t_start + ctx.seconds
        i = 0
        while i % len(PATTERNS) or time.perf_counter() < deadline:
            pat = PATTERNS[i % len(PATTERNS)]
            if ctx.fault == "raise" and i == 1:
                pat = "(unclosed"  # the regex engine rejects it at run time
            req = f"r{i}"
            # traced runs interleave untraced requests, shifted by one
            # every pattern cycle so both halves see every pattern: their
            # median, against the traced one, is the tracing overhead
            traced = ctx.traced and (i + i // len(PATTERNS)) % 2 == 0
            attempted += 1
            i += 1
            try:
                dt, parts, rows = self._request(ctx, pat, req, traced)
            except Exception as e:  # noqa: BLE001 - a failed request is counted
                print(f"[{NAME}] request {req} failed: {e!r}"[:300])
                failed += 1
                continue
            self._check(pat, rows, ctx.fault)  # off the clock
            if ctx.traced and not traced:
                untraced_lat.append(dt * 1e3)
                continue
            lat.append(dt * 1e3)
            if parts:
                plan_ms.append(parts[0] * 1e3)
                exec_ms.append(parts[1] * 1e3)
                groups.append(f"perfbench-{req}")
        elapsed = time.perf_counter() - t_start
        done = attempted - failed
        out = Outcome(
            latency_ms=lat,
            throughput_per_s=done / elapsed,
            attempted=attempted,
            failed=failed,
            counts={"requests": done},
            checks=[f"counts: {done} responses match the planted per-file counts"],
        )
        if ctx.traced:
            ex = median(exec_ms)
            out.layers = {
                "grep.requests": done,
                "grep.plan_ms": median(plan_ms),
                "grep.exec_ms_p50": ex,
                "grep.scan_mb_per_s": self.bytes / 1e6 / (ex / 1e3) if ex else 0.0,
                "trace.overhead_ms": median(lat) - median(untraced_lat),
                **ctx.sparkwork.per_op(groups, len(groups)),
            }
        return out
