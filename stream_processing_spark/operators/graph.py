"""Connected components over near-duplicate pairs → dedup clusters.

The training-data use case: near-dup detection (MinHash-LSH / Jaccard /
cosine) yields PAIRS, but dedup policy needs CLUSTERS — if A~B and B~C,
all three are one duplicate group even when A~C was never scored. That
closure is a connected-components problem.

Three algorithms, same (node, component) output:

- ``auto`` (default): a few rounds of min-label **propagation** (one
  join + grouped min per round — the cheapest possible round), and if
  the graph hasn't converged by then, CONTRACT it by the current labels
  (every edge (a,b) becomes (label(a), label(b)); valid because a
  node's label is always a member of its own component, so components
  of the quotient graph biject onto components of the original) and
  finish on the much smaller contracted graph with **large-star /
  small-star**. Real near-dup graphs (diameter 2–4) converge in the
  cheap phase and never pay the star machinery; a pathological
  duplicate chain pays ``switch_after`` cheap rounds + O(log n) star
  rounds instead of O(n) propagation rounds.
- ``star``: alternating **large-star / small-star** (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14). Each round
  rewires the edge set toward disjoint stars whose centers are the
  component minima:

      large-star(u): m = min(N(u) ∪ {u});  emit (v, m) for v ∈ N(u), v > u
      small-star(u): over neighbors v < u, m = min(N(u) ∪ {u});
                     emit (v, m) for v ∈ N(u) ∪ {u}, v ≠ m

  O(log n) rounds regardless of diameter — a 10k-node chain costs
  ~log₂(10k) ≈ 14 rounds, not 10k (asserted in test_stress_skew). Each
  round is two groupBy-min + two joins, all JVM-side; the edge set
  never grows beyond |E| + |V| rows of two bigints.
- ``propagation``: pure iterative min-label propagation (the
  Pregel/GraphX pattern) — O(diameter) rounds. Kept as the round-count
  baseline and the cheapest choice when components are known-shallow.

Scale notes:
- Lineage is cut every round (an eager ``runtime.materialize``:
  ``localCheckpoint`` locally; ``reliable=True`` swaps in reliable
  ``checkpoint`` to shared storage so executor loss mid-iteration
  recovers instead of killing the query)
  — without it the plan doubles per iteration and round 10 recompiles
  a 2^10-deep DAG.
- The convergence check is a driver-side scalar count per round —
  deliberate: iterative algorithms need a driver loop (same as MLlib);
  the per-round data never leaves the cluster.
- Shuffle keys are node ids (bigint) — fixed-width 8-byte keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stream_processing_spark.runtime import materialize

# propagation rounds before `auto` contracts and switches to star: one
# more than the largest diameter observed across the near-dup fixtures,
# so the common case never pays the switch
_AUTO_SWITCH_AFTER = 4


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    reliable: bool = False,
    checkpoint_dir: str | None = None,
    algorithm: str = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """Return (node, component) where component = min node id reachable.

    ``edges`` is undirected input (one row per pair, either orientation);
    isolated nodes are NOT emitted — union the full node set afterwards
    if singletons matter (dedup_connected_components does).

    ``algorithm``: ``auto`` (propagation, then contract+star — default),
    ``star`` (O(log n) rounds), ``propagation`` (O(diameter) rounds).
    ``stats``, if given, receives ``{"rounds": k}`` (total driver
    rounds across phases) for convergence assertions in tests.
    Raises ``RuntimeError`` if the labels have not converged within
    ``max_iter`` rounds.
    """
    if algorithm not in ("auto", "star", "propagation"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")

    def _cut(df: DataFrame) -> DataFrame:
        return materialize(df, reliable=reliable, checkpoint_dir=checkpoint_dir)

    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if algorithm == "star":
        return _finish(algorithm, *_star_cc(fwd, _cut, max_iter), stats)

    sym = _cut(
        fwd.union(fwd.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )
    budget = max_iter if algorithm == "propagation" else min(
        _AUTO_SWITCH_AFTER, max_iter
    )
    # ROUND-1 SHORTCUT (r14, bit-identical by construction — the same
    # class as LPA's round-0 min-neighbor shortcut): labels start as
    # the identity, so round 1's min(label over neighbors ∪ self) IS
    # least(node, min neighbor id). One aggregation over the
    # materialized sym replaces the seed-labels DISTINCT shuffle AND
    # the identity label join (sym is symmetric, so its distinct `a`
    # values are exactly the node set). The delta carries __old = node
    # so the convergence probe stays a filter over the checkpointed
    # frame, as in _propagate.
    delta1 = _cut(
        sym.groupBy("a")
        .agg(F.min("b").alias("_mnb"))
        .select(
            F.col("a").alias("node"),
            F.col("a").alias("__old"),
            F.least(F.col("a"), F.col("_mnb")).alias("label"),
        )
    )
    changed = delta1.filter(F.col("label") < F.col("__old")).limit(1).count()
    labels = delta1.select("node", "label")
    rounds, converged = 1, changed == 0
    if not converged and budget > 1:
        labels, more, converged = _propagate(sym, labels, _cut, budget - 1)
        rounds += more

    if not converged and algorithm == "auto":
        # contract by current labels: (a,b) → (label(a), label(b)).
        # After k rounds every label is the min node within k hops, so
        # the quotient graph has one node per surviving representative
        # — tiny next to the original — and its components match 1:1.
        la = labels.select(
            F.col("node").alias("a"), F.col("label").alias("la")
        )
        lb = labels.select(
            F.col("node").alias("b"), F.col("label").alias("lb")
        )
        contracted = (
            sym.join(la, "a")
            .join(lb, "b")
            .filter(F.col("la") != F.col("lb"))
            .select(F.col("la").alias("a"), F.col("lb").alias("b"))
            .distinct()
        )
        reps, more, converged = _star_cc(contracted, _cut, max_iter - rounds)
        reps = reps.withColumnRenamed("node", "rep")
        rounds += more
        labels = labels.join(
            reps, labels.label == reps.rep, "left"
        ).select(
            "node",
            F.coalesce("component", "label").alias("label"),
        )

    out = labels.select("node", F.col("label").alias("component"))
    return _finish(algorithm, out, rounds, converged, stats)


def _finish(algorithm, out, rounds, converged, stats):
    if not converged:
        raise RuntimeError(
            f"connected_components(algorithm={algorithm!r}) did not "
            f"converge in {rounds} rounds; raise max_iter"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return out


def _propagate(sym, labels, _cut, max_rounds):
    """Min-label propagation rounds; returns (labels, rounds, converged)."""
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        rounds += 1
        nbr_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry the previous label through the checkpoint so the
        # convergence check is a filter over the already-materialized
        # RDD — no new-vs-old JOIN (and its shuffle) per round
        delta = _cut(
            labels.join(nbr_min, labels.node == nbr_min.a, "left")
            .select(
                "node",
                F.col("label").alias("__old"),
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                    "label"
                ),
            )
        )
        changed = delta.filter(F.col("label") < F.col("__old")).limit(1).count()
        labels = delta.select("node", "label")
        if changed == 0:
            converged = True
            break
    return labels, rounds, converged


def _large_star(e: DataFrame) -> DataFrame:
    """e: directed parent edges (u, v). Symmetrize; per node u, m =
    min(neighborhood ∪ {u}); connect every STRICTLY LARGER neighbor to
    m. Output edges all satisfy child > parent."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("_mn", "u").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """e: directed edges (u, v) with v < u (large-star output shape).
    Per node u over its smaller neighbors: m = min; connect u and every
    other smaller neighbor to m."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = (
        e.join(mins, "u")
        .filter(F.col("v") > F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return nbrs.union(mins.select("u", F.col("m").alias("v"))).distinct()


def _star_cc(fwd, _cut, max_iter):
    """Alternating large-star/small-star; fwd = (a, b) undirected.
    Returns (components, rounds, converged)."""
    # seed: directed child>parent edges; drop self-loops
    e = _cut(
        fwd.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
    )
    nodes = _cut(
        fwd.select(F.col("a").alias("node"))
        .union(fwd.select(F.col("b").alias("node")))
        .distinct()
    )
    rounds = 0
    converged = False
    for _ in range(max_iter):
        rounds += 1
        e2 = _cut(_small_star(_large_star(e)))
        # fixpoint = identical edge SET (both are distinct): equal
        # counts (cheap, both materialized) gate the one-sided
        # difference probe, and together they prove set equality
        if e2.count() == e.count() and (
            e2.subtract(e).limit(1).count() == 0
        ):
            e, converged = e2, True
            break
        e = e2
    # e is now disjoint stars (child, center); centers are component
    # minima. Nodes absent as a child are centers (or singletons after
    # self-loop removal) → component = self.
    children = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    selfs = (
        nodes.join(e.select(F.col("u").alias("node")), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return children.union(selfs), rounds, converged
