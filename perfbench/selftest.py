"""The benchmark's own tiny-size self-test.

    python3 perfbench/selftest.py

On one session and tiny inputs, for every workload it checks that:

1. every end-to-end metric (untraced) and every per-layer metric
   (traced) is printed by name with its unit, and that the names and
   units agree with BENCHMARK.json;
2. each correctness check trips when it is fed a planted wrong
   expectation;
3. an operation forced to raise inside the program is counted as failed
   and shows in ``failed_ratio``.

Exits 0 when all of them hold, 1 otherwise.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time

import run
from harness import CorrectnessError, Ctx, SparkWork, Tracer

# the checks each workload runs, by the name its fault hook uses
CHECKS = {
    "rainstorm_stateful": ["drain", "live"],
    "dgrep_logs": ["counts"],
    "store_lifecycle": ["lines"],
}


class Failed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise Failed(what)
    print(f"  ok: {what}")


def one_run(state: dict, name: str, traced: bool = False, fault: str | None = None):
    tracer = Tracer() if traced else run.NULL_TRACER
    ctx = Ctx(spark=state["spark"], seed=7, seconds=1.0, work=state["work"] / name,
              nproc=run.nproc(), traced=traced, tracer=tracer, fault=fault, tiny=True,
              min_samples=5, spark_conf=state["conf"],
              sparkwork=SparkWork(state["spark"].sparkContext) if traced else None)
    wl = run.workloads()[name]()
    try:
        e2e, out, _ = run.run_workload(ctx, wl, launch_s=state["launch_s"])
        layers = {}
        if traced:
            layers = run.layer_metrics(ctx, out, state["session_m"])
            if hasattr(wl, "baseline"):
                layers.update(wl.baseline(ctx))
        printed: list[str] = []
        result = run.report(name, traced, e2e, out, layers, lines=printed.append)
        return result, printed, out, layers
    finally:
        if ctx.spark is not state["spark"]:  # the local[1] baseline replaced it
            ctx.spark.stop()
            state["spark"], _ = run.start_session(state["conf"], run.NULL_TRACER)
        shutil.rmtree(ctx.work, ignore_errors=True)


def check_printed(result: dict, printed: list[str], spec: dict, kind: str) -> None:
    expect(set(result["metrics"]) == set(spec), f"the JSON carries every {kind} metric")
    for k, unit in spec.items():
        expect(result["metrics"][k]["unit"] == unit, f"{k} has unit {unit}")
        prefix = "metric" if kind == "end-to-end" else "layer"
        expect(any(ln.startswith(f"{prefix} {k} = ") and ln.split()[4:5] == [unit]
                   for ln in printed), f"{k} is printed with its unit")


def check_spec() -> None:
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    expect({m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END,
           "BENCHMARK.json end_to_end matches run.END_TO_END")
    expect({m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER,
           "BENCHMARK.json per_layer matches run.PER_LAYER")
    expect(sorted(w["name"] for w in spec["workloads"]) == sorted(CHECKS),
           "BENCHMARK.json names the three workloads")


def main() -> int:
    t0 = time.time()
    work = run.ROOT / ".perfbench_work" / f"selftest-{os.getpid()}"
    conf = run.prepare_env(work)
    spark, session_m = run.start_session(conf, run.NULL_TRACER)
    state = {"spark": spark, "conf": conf, "work": work, "session_m": session_m,
             "launch_s": time.time() - t0}
    try:
        check_spec()
        for name in CHECKS:
            print(f"{name}:")
            result, printed, out, _ = one_run(state, name)
            check_printed(result, printed, run.END_TO_END, "end-to-end")
            expect(result["failed"] == 0 and result["attempted"] >= 1,
                   f"a clean run fails nothing ({result['attempted']} attempted)")
            result, printed, _, layers = one_run(state, name, traced=True)
            check_printed(result, printed, run.PER_LAYER, "per-layer")
            for check in CHECKS[name]:
                try:
                    one_run(state, name, fault=f"wrong:{check}")
                except CorrectnessError as e:
                    expect(True, f"check '{check}' trips on a wrong expectation: {str(e)[:80]}")
                else:
                    raise Failed(f"check '{check}' passed a wrong expectation")
            result, printed, out, _ = one_run(state, name, fault="raise")
            expect(out.failed >= 1, f"a forced exception is counted ({out.failed} failed)")
            line = next(ln for ln in printed if ln.startswith("failed_ratio = "))
            expect(float(line.split()[2]) > 0, f"and shows in {line!r}")
    except Failed as e:
        print(f"SELF-TEST FAILED: {e}")
        return 1
    finally:
        run.stop_session(state["spark"])
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()
    print(f"self-test passed in {time.time() - t0:.0f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
