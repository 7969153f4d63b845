"""Execution-shape helpers shared by the batch operators.

Two recurring plan decisions live here so every operator spells them the
same way:

- ``rebalance_for_expansion`` — repartition before a row-expanding stage
  (explode, Python decode) ONLY when the scan is under-parallel. A
  single-row-group local parquet file reads as one task, so the local
  fixtures need the shuffle; a 100 TB scan already has thousands of
  splits and a blanket repartition would be a gratuitous full shuffle of
  the corpus text.
- ``materialize`` — the package's ONLY materialization barrier: cut
  lineage / force single computation of a frame that feeds multiple plan
  branches or an iterative loop. No other module calls
  ``localCheckpoint`` or ``checkpoint`` (a source lint in
  tests/test_plan_lint.py keeps it so), so how a barrier materializes is
  decided here. ``reliable=False`` uses ``localCheckpoint``
  (executor-local: fast, but on a real cluster an executor loss
  mid-query kills the lineage). ``reliable=True`` routes to
  ``DataFrame.checkpoint``, which writes to the SparkContext checkpoint
  directory (shared storage on a cluster) and survives executor loss —
  the durability the reference gets from its replicated DFS (HyDFS) when
  RainStorm replays a failed stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def rebalance_for_expansion(df: DataFrame) -> DataFrame:
    """Repartition to defaultParallelism only when the plan would
    otherwise run on fewer partitions than cores. Partition count is
    read from the compiled physical plan (driver-side only, no job)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # plan not convertible (e.g. streaming) — be safe
        return df.repartition(par)
    return df.repartition(par) if n < par else df


def materialize(
    df: DataFrame,
    eager: bool = True,
    reliable: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Materialization barrier: localCheckpoint (single-JVM) or reliable
    checkpoint (cluster). ``checkpoint_dir`` sets the SparkContext
    checkpoint directory if none is configured yet (it is context-global,
    so an explicit prior setting wins).

    Eager is the default because of the single-action dedupe rule: a
    query ends in ONE final action, and a lazy checkpoint only
    materializes during that action — too late for the branches that
    share the frame, so each branch recomputes it. An eager barrier runs
    its job up front and every branch reads the stored copy.
    ``eager=False`` still cuts lineage (iterative loops whose plan depth
    would otherwise grow each round), but it dedupes nothing under a
    single action."""
    if not reliable:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if checkpoint_dir is not None:
        sc.setCheckpointDir(checkpoint_dir)
    elif sc.getCheckpointDir() is None:
        raise ValueError(
            "reliable=True needs a checkpoint directory: pass "
            "checkpoint_dir= or call sc.setCheckpointDir() first"
        )
    return df.checkpoint(eager=eager)
