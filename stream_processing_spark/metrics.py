"""Query timing and shuffle-volume accounting.

``noop_walls`` is the one timer behind bench.py and tools/: build the
query, force it through the noop sink, take the wall, release memory.

Shuffle volume comes from Spark's own SQLMetrics.

The 100 TB claims about "ids-only shuffles" and banded-join bounds were
plan-verified (no exchange where none belongs) and, since round 3,
stress-measured in wall time. This module closes the remaining gap: it
executes a DataFrame's physical plan and reads back the SHUFFLE BYTES
its exchanges actually wrote, so the stress bench can assert byte
ceilings, not just durations.

How: ``qe.executedPlan().execute().count()`` runs the query entirely
JVM-side (no driver data transfer; for AQE plans this drives the stage
loop to the final plan) and populates the SQLMetric accumulators on the
SAME plan instance, which a tree walk then sums. Works with the UI
disabled — SQLMetrics are accumulators, not UI state.
"""

from __future__ import annotations

import gc
import time
from collections.abc import Callable

from pyspark.sql import DataFrame

#: metric keys as registered by ShuffleExchangeExec's write metrics
BYTES_KEY = "shuffleBytesWritten"
RECORDS_KEY = "shuffleRecordsWritten"


def noop_walls(build: Callable[[], DataFrame], runs: int) -> list[float]:
    """Wall seconds of ``runs`` timed runs, each ``build()`` followed by
    a noop-sink write (every row computed, nothing collected).

    ``build()`` is on the clock, so the jobs that eager barriers run
    while a query is built are timed with the write that runs the rest.

    After the runs, checkpoint/cache blocks are released: the eager
    localCheckpoints (LPA, spearman, the drift monitors) are reclaimed
    by ContextCleaner only after both the Python refs and the JVM weak
    refs clear. Left alone, ~80 queries of accumulated blocks degraded
    a shared session ~4x for late-positioned queries (r12)."""
    if runs < 1:
        raise ValueError(f"runs must be >= 1, got {runs}")
    walls = []
    for _ in range(runs):
        t0 = time.perf_counter()
        df = build()
        df.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    jvm = df.sparkSession.sparkContext._jvm
    del df
    gc.collect()
    jvm.System.gc()
    return walls


def _sum_metric(node, key: str, seen: set[int]) -> int:
    nid = node.id()
    if nid in seen:  # ReusedExchange shares metrics with the original
        return 0
    seen.add(nid)
    total = 0
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() == key:
            total += kv._2().value()
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return total + _sum_metric(node.executedPlan(), key, seen)
    if name.endswith("QueryStageExec"):
        return total + _sum_metric(node.plan(), key, seen)
    ch = node.children()
    for i in range(ch.size()):
        total += _sum_metric(ch.apply(i), key, seen)
    return total


def execute_with_shuffle_metrics(df: DataFrame) -> dict:
    """Run ``df`` to completion (JVM-side, nothing collected) and return
    ``{"rows", "shuffle_bytes_written", "shuffle_records_written"}``
    summed over every exchange in the executed plan."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    rows = plan.execute().count()
    return {
        "rows": int(rows),
        "shuffle_bytes_written": int(_sum_metric(plan, BYTES_KEY, set())),
        "shuffle_records_written": int(_sum_metric(plan, RECORDS_KEY, set())),
    }
