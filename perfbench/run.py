"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ``rainstorm_stateful``, ``dgrep_logs``, ``store_lifecycle``
(see README.md in this directory). The program under test is the
``stream_processing_spark`` package beside this directory; it receives
only the inputs generated here from ``--seed``.

A run:

1. launches the session (``session.get_spark``) and its first job;
2. sets the workload up three times over (fresh directories, inputs
   generated from the seed, warm-up operations off the clock);
3. measures for ``--seconds`` (the live stream phase runs until 100
   files were due);
4. checks every output it measured; a mismatch exits with code 3 and
   prints no result;
5. prints each metric by name, unit and sample count, then, as the last
   line, one JSON object with ``correct``, ``attempted``, ``failed`` and
   ``metrics``.

``setup_s`` is the launch (process start to the end of the session's
first job) plus the median of the three set-ups. With ``--trace 0`` the
JSON carries the end-to-end metrics; with ``--trace 1`` the per-layer
ones, and the spans, layer self times and tracing overhead go to
``.perfbench_out/trace-<workload>-seed<n>.json``. Scratch files live in
``.perfbench_work/`` and are deleted when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import math
import os
import shutil
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

from harness import (  # noqa: E402
    NULL_TRACER,
    CorrectnessError,
    Ctx,
    SparkWork,
    Tracer,
    median,
    pct,
    peak_rss_mb,
    process_start_epoch,
)

SETUP_REPS = 3

# name -> unit; every workload reports every one of these
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p80_ms": "ms",
    "throughput_per_s": "1/s",
}
# measured on every workload
PER_LAYER_COMMON = {
    "session.get_spark_s": "s",
    "session.first_job_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "trace.overhead_ms": "ms",
    "trace.spans": "count",
}
# counted at one layer each; 0 on a workload that bypasses that layer
PER_LAYER_COUNTS = {
    "job.batches": "count",
    "job.drain_batches": "count",
    "job.backlog_files_max": "count",
    "state.rows_total": "count",
    "state.store_instances": "count",
    "state.commit_pct_of_trigger": "%",
    "ops.input_rows": "count",
    "ops.output_rows": "count",
    "sink.batch_dirs": "count",
    "grep.requests": "count",
    "store.merges": "count",
    "store.parts_before_merge": "count",
    "store.parts_after_merge": "count",
    "store.bytes_after_merge": "bytes",
    "store.same_version_read_ratio": "ratio",
}
PER_LAYER = {**PER_LAYER_COMMON, **PER_LAYER_COUNTS}


def workloads() -> dict:
    import dgrep_logs
    import rainstorm_stateful
    import store_lifecycle

    return {m.NAME: m.Workload for m in (rainstorm_stateful, dgrep_logs, store_lifecycle)}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> dict[str, str]:
    """Environment and session conf: nproc cores, scratch inside ``work``."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = str(work / "tmp")
    # no hsperfdata files in the system /tmp, from the launcher or the JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }


def start_session(conf: dict, tracer) -> tuple[object, dict[str, float]]:
    # the session module reads SPARK_GRAFT_CPUS when first imported, so
    # prepare_env must run before this import
    from stream_processing_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session", "get_spark"):
        spark = get_spark(extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("session", "first_job"):
        spark.range(1).count()
    t2 = time.perf_counter()
    return spark, {"session.get_spark_s": t1 - t0, "session.first_job_s": t2 - t1}


def stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_workload(ctx: Ctx, wl, launch_s: float) -> tuple[dict, object, list[float]]:
    """Set up SETUP_REPS times, then measure. Returns (e2e, outcome, preps)."""
    preps = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.prepare(ctx, rep)
        preps.append(time.perf_counter() - t0)
    out = wl.measure(ctx)
    e2e = {
        "setup_s": launch_s + median(preps),
        "latency_p50_ms": median(out.latency_ms),
        "latency_p80_ms": pct(out.latency_ms, 0.8),
        "throughput_per_s": out.throughput_per_s,
    }
    # printed, not gated: the JVM sizes its heap adaptively, so peak RSS
    # moves by a fifth or more between runs of the same code
    out.extra["peak_rss_mb"] = peak_rss_mb()
    return e2e, out, preps


def layer_metrics(ctx: Ctx, out, session_m: dict) -> dict:
    layers = {**session_m, **{k: 0 for k in PER_LAYER_COUNTS}, **out.layers}
    layers["trace.spans"] = len([s for s in ctx.tracer.spans if s])
    return layers


def _unit(name: str) -> str:
    """Unit of a printed-only layer metric, from its name."""
    for suffix, unit in (("mb_per_s", "MB/s"), ("records_per_s", "1/s"), ("_bytes", "bytes"),
                         ("_s", "s"), ("drift", "ratio")):
        if name.endswith(suffix):
            return unit
    return "ms" if "_ms" in name else "count"


def report(name: str, traced: bool, e2e: dict, out, layers: dict, lines=print) -> dict:
    """Print every metric with its unit and sample count; return the
    JSON result object."""
    n_lat = len(out.latency_ms)
    if not traced:
        samples = {"latency_p50_ms": n_lat, "latency_p80_ms": n_lat}
        for k, unit in END_TO_END.items():
            lines(f"metric {k} = {e2e[k]:.6g} {unit} (n={samples.get(k, 1)})")
        for k, v in out.extra.items():
            lines(f"info {k} = {v:.6g}")
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        for k in sorted(layers):
            lines(f"layer {k} = {layers[k]:.6g} {PER_LAYER.get(k) or _unit(k)}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    for k, v in out.counts.items():
        lines(f"count {k} = {v}")
    ratio = out.failed / out.attempted if out.attempted else float("nan")
    lines(f"failed_ratio = {ratio:.6g} (failed={out.failed}, attempted={out.attempted})")
    for c in out.checks:
        lines(f"check ok: {c}")
    for k, m in metrics.items():
        v = m["value"]
        if not isinstance(v, (int, float)) or math.isnan(v) or math.isinf(v):
            raise ValueError(f"{name}: metric {k} was not measured ({v!r})")
    return {"correct": True, "attempted": out.attempted, "failed": out.failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    proc_start = process_start_epoch()
    # a terminated run still stops its JVM and deletes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if importlib.util.find_spec("stream_processing_spark") is None:
        print(f"perfbench: the program under test is not importable from {ROOT}",
              file=sys.stderr)
        return 2
    table = workloads()
    if args.workload not in table:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(table)}",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    traced = bool(args.trace)
    tracer = Tracer() if traced else NULL_TRACER
    spark = None
    try:
        conf = prepare_env(work)
        spark, session_m = start_session(conf, tracer)
        launch_s = time.time() - proc_start
        ctx = Ctx(spark=spark, seed=args.seed, seconds=args.seconds, work=work,
                  nproc=nproc(), traced=traced, tracer=tracer, spark_conf=conf,
                  sparkwork=SparkWork(spark.sparkContext) if traced else None)
        wl = table[args.workload]()
        e2e, out, preps = run_workload(ctx, wl, launch_s)
        layers = {}
        if traced:
            layers = layer_metrics(ctx, out, session_m)
            if hasattr(wl, "baseline"):
                layers.update(wl.baseline(ctx))
            spark = ctx.spark
        print(f"workload {args.workload} seed={args.seed} seconds={args.seconds:g} "
              f"trace={args.trace} nproc={ctx.nproc}")
        print(f"info launch_s = {launch_s:.6g}; set-ups = "
              + ", ".join(f"{p:.4g}" for p in preps) + " s")
        result = report(args.workload, traced, e2e, out, layers)
        if traced:
            write_trace(args, tracer, layers, preps, launch_s)
    except CorrectnessError as e:
        print(f"perfbench: CORRECTNESS FAILURE: {e}", file=sys.stderr)
        return 3
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it
    print(json.dumps(result))
    return 0


def write_trace(args, tracer: Tracer, layers: dict, preps: list[float], launch_s: float) -> None:
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    self_s = tracer.self_times_s()
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "launch_s": launch_s,
        "setups_s": preps,
        "layers": layers,
        "self_time_s": self_s,
        "tracing_overhead_ms": layers.get("trace.overhead_ms"),
        "spans": [s for s in tracer.spans if s],
    }
    path = out_dir / f"trace-{args.workload}-seed{args.seed}.json"
    path.write_text(json.dumps(doc, indent=1))
    for layer, s in sorted(self_s.items()):
        print(f"self_time {layer} = {s:.6g} s")
    print(f"trace written to {path.relative_to(ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
